"""SparkSession factory.

Replaces the reference's session builder (reference:
pipeline/lib/tm_lakehouse/spark_utils.py:17-146 — Iceberg catalog + S3A +
UTC timezone) with a local-first, Delta-if-available, Parquet-otherwise
builder.  UTC session timezone is load-bearing: the reference standardizes
all timestamps to UTC (spark_utils.py:144) and gold SQL uses
``AT TIME ZONE 'UTC'``.

Scale posture: shuffle partitions default to the core count (not Spark's
200) because local[N] has N execution slots; on a real cluster the caller
passes ``shuffle_partitions`` sized to executors*cores*2-3.  AQE is on so
post-shuffle partition counts adapt to the real data volume at any SF.

JIT posture: the driver JVM runs with one C2 compiler thread
(``-XX:CICompilerCount=2``: one C1 + one C2, where HotSpot's ergonomics
pick 1 + 2 on 4 CPUs).  Every entry point starts a fresh driver, and
its compiler threads compete with the task slots for the same cores.
Per-thread CPU of one 4-core benchmark run (``tools/thread_cpu.py``):
the compiler threads used 104 of 180 s of the `ingest` process tree
(C2 89 s, spread over thousands of tier-4 compiles of Catalyst,
Janino, ANTLR and serialization code, not of generated classes) and
65 of 118 s of `analytics`.  With the cap C2 used 50 and 33 s, the
trees 143 and 101 s, and task and py4j threads rose by 3 s at most.
The benchmark's timed windows kept their wall time; in a 75-second
``bench.py`` run warm timings held and cold ones lean about 3% slower,
since late-compiled code runs longer at the lower tiers (SCALE.md,
"JIT compiler share (4 cores)").
The flag goes in ``spark.driver.defaultJavaOptions``, which Spark
places before ``spark.driver.extraJavaOptions``; HotSpot takes the
last occurrence of a flag, so a caller restores more compiler threads
with a later ``-XX:CICompilerCount=N`` in
``extra_conf={"spark.driver.extraJavaOptions": ...}``.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

from pyspark.sql import SparkSession

_DEFAULT_CPUS = os.environ.get("SPARK_GRAFT_CPUS") or str(os.cpu_count() or 4)


@dataclass(frozen=True)
class ObjectStoreConfig:
    """S3/MinIO connection settings (reference spark_utils.py:17-146:
    endpoint + path-style + credentials + region wired into both the
    catalog and the Hadoop s3a filesystem).

    Config-only: constructing this and passing it to :func:`get_spark`
    sets the s3a Hadoop confs on the builder; no network access happens
    until a path is actually read.  Credentials default to the standard
    AWS environment variables, endpoint/path-style to the MinIO-style
    variables the reference uses for local development.
    """

    endpoint: str | None = None
    access_key: str | None = None
    secret_key: str | None = None
    region: str = "us-east-1"
    path_style_access: bool = True
    ssl_enabled: bool = False

    @classmethod
    def from_env(cls) -> "ObjectStoreConfig | None":
        """Build from the environment; None when no endpoint is
        configured (the local-filesystem default).

        Activation is gated on the EXPLICIT ``SPARK_GRAFT_S3_ENDPOINT``
        opt-in — never on the mere presence of AWS credentials, which are
        ambient on many dev machines and must not get copied into Spark
        conf (visible in the UI/event logs) for purely local runs.
        """
        endpoint = os.environ.get("SPARK_GRAFT_S3_ENDPOINT")
        access = os.environ.get("AWS_ACCESS_KEY_ID")
        secret = os.environ.get("AWS_SECRET_ACCESS_KEY")
        if not endpoint:
            return None
        return cls(
            endpoint=endpoint,
            access_key=access,
            secret_key=secret,
            region=os.environ.get("AWS_REGION")
            or os.environ.get("AWS_DEFAULT_REGION")
            or "us-east-1",
            path_style_access=os.environ.get("SPARK_GRAFT_S3_PATH_STYLE", "true").lower()
            == "true",
            ssl_enabled=os.environ.get("SPARK_GRAFT_S3_SSL", "false").lower() == "true",
        )

    def spark_conf(self) -> dict[str, str]:
        """The builder conf map (spark.hadoop.fs.s3a.*) this config
        expands to — mirrors the reference's s3a block and is what
        get_spark applies."""
        conf: dict[str, str] = {
            "spark.hadoop.fs.s3a.impl": "org.apache.hadoop.fs.s3a.S3AFileSystem",
            "spark.hadoop.fs.s3a.path.style.access": str(self.path_style_access).lower(),
            "spark.hadoop.fs.s3a.connection.ssl.enabled": str(self.ssl_enabled).lower(),
            "spark.hadoop.fs.s3a.aws.region": self.region,
            # region must reach the JVM as a system property too: the JVM
            # may start before Python mutates os.environ (reference
            # spark_utils.py comment on aws.region resolution)
            "spark.driver.extraJavaOptions": f"-Daws.region={self.region}",
            "spark.executor.extraJavaOptions": f"-Daws.region={self.region}",
        }
        if self.endpoint:
            conf["spark.hadoop.fs.s3a.endpoint"] = self.endpoint
        if self.access_key:
            conf["spark.hadoop.fs.s3a.access.key"] = self.access_key
        if self.secret_key:
            conf["spark.hadoop.fs.s3a.secret.key"] = self.secret_key
        return conf


def merge_conf(base: dict[str, str], extra: dict[str, str]) -> dict[str, str]:
    """Overlay `extra` on `base`, CONCATENATING the extraJavaOptions keys
    (space-joined JVM option lists) instead of letting one assignment
    clobber the other — the object store's -Daws.region and a caller's
    JVM flags must both survive."""
    merged = dict(base)
    for k, v in extra.items():
        if k in ("spark.driver.extraJavaOptions", "spark.executor.extraJavaOptions") and k in merged:
            merged[k] = f"{merged[k]} {v}"
        else:
            merged[k] = v
    return merged


def delta_available() -> bool:
    """True if the delta-spark package is importable (it is not in the
    minimal test container; the engine then uses Parquet tables with
    dynamic partition overwrite — see storage.py)."""
    try:
        import delta  # noqa: F401

        return True
    except ImportError:
        return False


def get_spark(
    app_name: str = "tagmarshal_data_lakehouse_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    driver_memory: str | None = None,
    warehouse_dir: str | None = None,
    extra_conf: dict[str, str] | None = None,
    object_store: ObjectStoreConfig | None = None,
) -> SparkSession:
    """Build (or fetch) the engine SparkSession.

    Defaults target the local[N] harness; every knob is overridable for a
    cluster deployment.
    """
    cpus = _DEFAULT_CPUS
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        # Parquet TIMESTAMP(NANOS) (events.ts in the testdata) has no Spark
        # type; read as long and convert explicitly (see queries.load_views).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.driver.memory", driver_memory or os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g"))
        .config("spark.driver.maxResultSize", "4g")
        # Idempotent partition rewrite (reference DELETE+append, etl.py:639-677)
        # is expressed as INSERT OVERWRITE of only the partitions present in
        # the incoming frame:
        .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
        # Streaming state lives in RocksDB, not the default heap-backed
        # store: the r11 streaming probe measured the stream-stream
        # join going super-linear (exponent 1.51, 168 s) at ~10M state
        # rows on HDFSBackedStateStore — heap maps + retained versions
        # GC-bind exactly like the r10 dedup cache — and the one-knob
        # RocksDB rerun read 31.5 s (exponent 0.19) on identical input.
        # Below the bind RocksDB costs ~15% (24.3 vs 20.7 s at 6.4M
        # events); at deployment state sizes it is the only stable
        # choice, so it is the default rather than a tuning note.
        # UPGRADE CAVEAT: the provider is part of the checkpoint's
        # state format — a streaming checkpoint written under the old
        # heap-backed default CANNOT be resumed under RocksDB (Spark
        # does not support switching providers across restarts of the
        # same query). Existing deployments must either restart their
        # streams from fresh checkpoints after upgrading, or pin the
        # old provider via extra_conf={"spark.sql.streaming.stateStore
        # .providerClass": "...HDFSBackedStateStoreProvider"} until
        # they can.
        .config(
            "spark.sql.streaming.stateStore.providerClass",
            "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
        )
        .config("spark.ui.enabled", os.environ.get("SPARK_GRAFT_UI", "false"))
        # one C2 compiler thread (see the module docstring); a caller's
        # extraJavaOptions come after this and win
        .config("spark.driver.defaultJavaOptions", "-XX:CICompilerCount=2")
    )
    if warehouse_dir:
        builder = builder.config("spark.sql.warehouse.dir", warehouse_dir)
    if object_store is None:
        object_store = ObjectStoreConfig.from_env()
    merged = merge_conf(
        object_store.spark_conf() if object_store else {}, extra_conf or {}
    )
    if delta_available():
        builder = builder.config(
            "spark.sql.extensions", "io.delta.sql.DeltaSparkSessionExtension"
        ).config(
            "spark.sql.catalog.spark_catalog",
            "org.apache.spark.sql.delta.catalog.DeltaCatalog",
        )
    for k, v in merged.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def table_format() -> str:
    """Table format used by all managed-table writes."""
    return "delta" if delta_available() else "parquet"
