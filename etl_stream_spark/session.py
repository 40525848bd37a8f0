"""SparkSession factory tuned for the engine.

Local-mode defaults mirror what a 1000-executor deployment would set
cluster-wide: AQE on (runtime re-plan, skew-join splitting, partition
coalescing), UTC session timezone (oracle comparison + reference parity —
the reference serializes timestamps as UTC RFC3339,
``src/destination/snowflake_destination.rs:889``), Arrow-enabled Python
interop for the Pandas-UDF slow path.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

#: Star-schema + stream + LLM-pipeline tables the driver generates.
TABLE_NAMES = (
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
)

DEFAULT_SF_DIR = "/root/testdata/sf0.1"


_SHIPPED_APPS: set[str] = set()


def ensure_worker_imports(spark: SparkSession) -> None:
    """Make ``etl_stream_spark`` importable in executor Python workers.

    Pandas-path operators (``mapInPandas``/``applyInPandasWithState``)
    pickle their functions *by reference* — workers must import this
    package. A host-provided session (the driver contract) may carry no
    PYTHONPATH, so ship the package once per application as a zip via
    ``addPyFile`` — the mechanism that also works on a real cluster
    (SparkFiles distribution), not just local mode. The zip name embeds
    a content fingerprint so edited code re-ships instead of reusing a
    stale artifact.
    """
    app_id = spark.sparkContext.applicationId
    if app_id in _SHIPPED_APPS:
        return
    import hashlib
    import tempfile
    import zipfile

    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    sources = []
    for root, _dirs, files in os.walk(pkg_dir):
        for f in sorted(files):
            if f.endswith(".py"):
                sources.append(os.path.join(root, f))
    h = hashlib.md5()
    for src in sorted(sources):
        h.update(src.encode())
        h.update(str(os.path.getmtime(src)).encode())
    zip_path = os.path.join(
        tempfile.gettempdir(), f"etl_stream_spark_{h.hexdigest()[:12]}.zip"
    )
    if not os.path.exists(zip_path):
        tmp = zip_path + ".tmp"
        with zipfile.ZipFile(tmp, "w") as zf:
            for src in sources:
                arc = os.path.join(
                    "etl_stream_spark", os.path.relpath(src, pkg_dir)
                )
                zf.write(src, arc)
        os.replace(tmp, zip_path)
    spark.sparkContext.addPyFile(zip_path)
    _SHIPPED_APPS.add(app_id)


def get_spark(
    app_name: str = "etl_stream_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with scale-aware defaults.

    ``shuffle_partitions`` defaults to the local parallelism; on a real
    cluster it should be sized so that post-shuffle partitions land in
    the 100-200 MB range (AQE's ``coalescePartitions`` then trims the
    long tail at runtime).
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(os.cpu_count() or 4)
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus) if cpus.isdigit() else 32

    # Python workers must be able to import this package even when the
    # driver script runs from elsewhere and added it via sys.path (on a
    # cluster this is --py-files / spark.submit.pyFiles; in local mode
    # the worker processes only see PYTHONPATH).
    pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    worker_path = os.pathsep.join(
        p for p in (pkg_root, os.environ.get("PYTHONPATH")) if p
    )
    if pkg_root not in (os.environ.get("PYTHONPATH") or "").split(os.pathsep):
        # local-mode workers are forked with the driver's env
        os.environ["PYTHONPATH"] = worker_path

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.compression.codec", "snappy")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.executorEnv.PYTHONPATH", worker_path)
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one driver-generated parquet table (columnar scan; Catalyst
    pushes filters/projections down into this scan).

    Timestamp normalization: the driver-generated parquet stores *naive*
    timestamps (isAdjustedToUTC=false), which Spark 4 infers as
    TIMESTAMP_NTZ by default while the DuckDB oracle reads them as plain
    (UTC-naive) timestamps. With the session pinned to UTC the two agree
    on wall-clock values, so cast any NTZ column to the session-zoned
    TIMESTAMP type — a metadata-only reinterpretation under UTC, and it
    keeps every downstream ``unix_millis``/interval expression valid.
    Some generations instead carry nanosecond timestamps, which Spark's
    parquet reader rejects natively — read those as longs and convert to
    microsecond timestamps (truncation, matching DuckDB's nanos→µs)."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    from pyspark.sql import functions as F

    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        df = df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    ntz_cols = [c for c, t in df.dtypes if t == "timestamp_ntz"]
    if ntz_cols:
        df = df.withColumns({c: F.col(c).cast("timestamp") for c in ntz_cols})
    # Widen narrow integer columns to 64-bit at the source: the engine's
    # boundary convention is that every integral output is BIGINT, and
    # Catalyst's UnwrapCastInBinaryComparison still pushes comparison
    # filters on the widened column down to the parquet scan.
    narrow = [c for c, t in df.dtypes if t in ("int", "smallint", "tinyint")]
    if narrow:
        df = df.withColumns({c: F.col(c).cast("long") for c in narrow})
    return df
