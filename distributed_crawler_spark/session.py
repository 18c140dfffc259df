"""SparkSession factory.

Arrow enabled (all Python-boundary work is vectorized pandas UDFs per
BASELINE.json:input_hint), AQE on (runtime skew-join splitting + partition
coalescing — the backstop behind the explicit salting in
operators/politeness.py).

On a real cluster this module is the only place that changes: master URL,
executor sizing, and an Iceberg catalog (spark.sql.catalog.* configs) get
injected here; everything downstream is master-agnostic DataFrame code
shipped via ``spark-submit --py-files``.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import tempfile

from pyspark.sql import SparkSession

from .config import EngineConfig

# Capacity of Spark's LRU cache of compiled whole-stage-codegen and
# expression classes (spark.sql.codegen.cache.maxEntries, a static conf,
# default 100). The engine re-plans the same few shapes every crawl round
# and registry call, but one benchmark process holds more distinct classes
# than 100 (about 220 in a `queries` process, 190 in a `crawl` process), so
# at the default every class is evicted before it is needed again and each
# pass recompiles it. Sized well above that repertoire.
# The cache is keyed by the generated source, and by default a whole-stage
# class is named after its codegen stage id. AQE numbers stages as it
# creates them, in an order that follows which stages finish first, so
# the same stage code got a new name, and was compiled again, whenever
# that order changed between calls. useIdInClassName=false drops the id
# from the class name only; plans and explain output keep it.
CODEGEN_CACHE_ENTRIES = 2048


def get_spark(
    cores: int | None = None,
    app_name: str = "distributed_crawler_spark",
    engine: EngineConfig | None = None,
) -> SparkSession:
    engine = engine or EngineConfig()
    n = cores or engine.cores
    builder = (
        SparkSession.builder.master(f"local[{n}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(engine.resolved_shuffle_partitions() if cores is None else max(n, 8)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # keep CPU-heavy tiny shuffles parallel (see EngineConfig note);
        # identical to the default behavior once partitions carry real bytes
        .config(
            "spark.sql.adaptive.coalescePartitions.minPartitionSize",
            engine.min_coalesced_partition_bytes,
        )
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # guide §3.1/§9: let the planner pick shuffled-hash joins when the
        # per-partition build side fits (and let AQE rewrite SMJ->SHJ at
        # runtime); sort-merge remains the fallback for big build sides
        .config("spark.sql.join.preferSortMergeJoin", "false")
        .config(
            "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold",
            str(64 * 1024 * 1024),
        )
        .config("spark.driver.memory", engine.driver_memory)
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        .config("spark.sql.codegen.useIdInClassName", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.warehouse.dir", "/tmp/dcs_warehouse")
        .config("spark.driver.extraJavaOptions", "-Djava.io.tmpdir=/tmp")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    _ship_package(spark)
    return spark


def _pkg_fingerprint(pkg_dir: str) -> str:
    """Content fingerprint (path + mtime + size of every .py) so edited
    sources produce a NEW archive name — a fixed name would leave workers
    importing a stale zip that shadows the repo on worker sys.path."""
    h = hashlib.sha1()
    for root, dirs, files in os.walk(pkg_dir):
        dirs[:] = sorted(d for d in dirs if d != "__pycache__")
        for f in sorted(files):
            if not f.endswith(".py"):
                continue
            p = os.path.join(root, f)
            st = os.stat(p)
            rel = os.path.relpath(p, pkg_dir)
            h.update(f"{rel}:{st.st_mtime_ns}:{st.st_size};".encode())
    return h.hexdigest()[:12]


def _ship_package(spark: SparkSession) -> None:
    """Ship this package to executor Python workers (the local-mode
    equivalent of `spark-submit --py-files pkg.zip`): the Arrow UDFs
    close over functions defined here, so workers must import it."""
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    zip_path = os.path.join(
        tempfile.gettempdir(),
        f"distributed_crawler_spark_pyfiles_{_pkg_fingerprint(pkg_dir)}",
    )
    archive = zip_path + ".zip"
    if not os.path.exists(archive):
        staging = tempfile.mkdtemp()
        shutil.copytree(
            pkg_dir,
            os.path.join(staging, "distributed_crawler_spark"),
            ignore=shutil.ignore_patterns("__pycache__"),
        )
        shutil.make_archive(zip_path, "zip", staging)
        shutil.rmtree(staging)
    # addPyFile is idempotent for an identical path; content changes get a
    # new fingerprinted name, so failures here are real and must surface.
    spark.sparkContext.addPyFile(archive)


def codegen_compile_count(spark: SparkSession) -> int:
    """Classes Janino has compiled in this session's JVM so far (Spark's
    CodegenMetrics compilation-time histogram counts one per compile; a
    codegen cache hit adds nothing)."""
    metrics = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return int(metrics.METRIC_COMPILATION_TIME().getCount())
