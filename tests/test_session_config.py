"""Object-store session config (reference spark_utils.py:17-146 parity).

Config-only: these tests assert the builder conf map, never a network
connection — the sandbox has no object store, and none is needed to
verify the session factory wires endpoint/path-style/credentials the
way the reference's s3a block does.
"""

from __future__ import annotations

from tagmarshal_data_lakehouse_spark.session import ObjectStoreConfig


def test_spark_conf_full_minio_shape():
    cfg = ObjectStoreConfig(
        endpoint="http://localhost:9000",
        access_key="minio",
        secret_key="minio123",
        region="eu-west-1",
        path_style_access=True,
        ssl_enabled=False,
    )
    conf = cfg.spark_conf()
    assert conf["spark.hadoop.fs.s3a.endpoint"] == "http://localhost:9000"
    assert conf["spark.hadoop.fs.s3a.access.key"] == "minio"
    assert conf["spark.hadoop.fs.s3a.secret.key"] == "minio123"
    assert conf["spark.hadoop.fs.s3a.path.style.access"] == "true"
    assert conf["spark.hadoop.fs.s3a.connection.ssl.enabled"] == "false"
    assert conf["spark.hadoop.fs.s3a.impl"] == "org.apache.hadoop.fs.s3a.S3AFileSystem"
    assert conf["spark.hadoop.fs.s3a.aws.region"] == "eu-west-1"
    # region must also reach the JVM as a system property
    assert conf["spark.driver.extraJavaOptions"] == "-Daws.region=eu-west-1"
    assert conf["spark.executor.extraJavaOptions"] == "-Daws.region=eu-west-1"


def test_spark_conf_omits_unset_credentials():
    conf = ObjectStoreConfig(endpoint="http://minio:9000").spark_conf()
    assert "spark.hadoop.fs.s3a.access.key" not in conf
    assert "spark.hadoop.fs.s3a.secret.key" not in conf
    assert conf["spark.hadoop.fs.s3a.endpoint"] == "http://minio:9000"


def test_from_env_none_when_unconfigured(monkeypatch):
    for var in (
        "SPARK_GRAFT_S3_ENDPOINT",
        "AWS_ACCESS_KEY_ID",
        "AWS_SECRET_ACCESS_KEY",
        "AWS_REGION",
        "AWS_DEFAULT_REGION",
    ):
        monkeypatch.delenv(var, raising=False)
    assert ObjectStoreConfig.from_env() is None


def test_from_env_reads_standard_variables(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_S3_ENDPOINT", "http://minio:9000")
    monkeypatch.setenv("AWS_ACCESS_KEY_ID", "k")
    monkeypatch.setenv("AWS_SECRET_ACCESS_KEY", "s")
    monkeypatch.setenv("AWS_REGION", "ap-south-1")
    monkeypatch.setenv("SPARK_GRAFT_S3_PATH_STYLE", "false")
    monkeypatch.setenv("SPARK_GRAFT_S3_SSL", "true")
    cfg = ObjectStoreConfig.from_env()
    assert cfg is not None
    assert cfg.endpoint == "http://minio:9000"
    assert cfg.access_key == "k" and cfg.secret_key == "s"
    assert cfg.region == "ap-south-1"
    assert cfg.path_style_access is False
    assert cfg.ssl_enabled is True


def test_from_env_ignores_ambient_aws_credentials(monkeypatch):
    """Activation is gated on the explicit SPARK_GRAFT_S3_ENDPOINT opt-in:
    dev machines with ambient AWS credentials must NOT get those
    credentials copied into Spark conf on purely local-filesystem runs."""
    monkeypatch.delenv("SPARK_GRAFT_S3_ENDPOINT", raising=False)
    monkeypatch.setenv("AWS_ACCESS_KEY_ID", "ambient-key")
    monkeypatch.setenv("AWS_SECRET_ACCESS_KEY", "ambient-secret")
    assert ObjectStoreConfig.from_env() is None


def test_extra_java_options_merge_with_object_store():
    """get_spark merges caller extraJavaOptions with the object-store
    -Daws.region instead of one clobbering the other (both are
    space-joined JVM option lists) — merge_conf is the helper get_spark
    applies to (object_store.spark_conf(), extra_conf)."""
    from tagmarshal_data_lakehouse_spark.session import merge_conf

    cfg = ObjectStoreConfig(endpoint="http://minio:9000", region="eu-west-1")
    extra = {"spark.driver.extraJavaOptions": "-Xss4m", "spark.foo": "bar"}
    merged = merge_conf(cfg.spark_conf(), extra)
    assert merged["spark.driver.extraJavaOptions"] == "-Daws.region=eu-west-1 -Xss4m"
    assert merged["spark.executor.extraJavaOptions"] == "-Daws.region=eu-west-1"
    assert merged["spark.foo"] == "bar"
    # plain keys still overlay base values
    assert merge_conf({"a": "1"}, {"a": "2"})["a"] == "2"


def test_driver_jvm_runs_one_c2_compiler_thread(spark):
    """get_spark caps the driver's JIT at one C1 + one C2 thread: on a
    4-core box HotSpot's default of 1 + 2 spent about a quarter of a
    run's CPU compiling (session.py docstring).  Read off the live
    JVM's arguments, so the flag is pinned where it takes effect."""
    mx = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    args = list(mx.getRuntimeMXBean().getInputArguments())
    assert "-XX:CICompilerCount=2" in args


def test_call_site_capture_is_off(spark, monkeypatch):
    """get_spark turns off PySpark's call-site capture, which costs about
    seven JVM calls per Column call (session.py docstring).  PySpark
    caches the flag per process, so the cache is cleared first and the
    flag read afresh from the active session."""
    from pyspark.errors import utils

    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"
    monkeypatch.setattr(utils, "_enable_debugging_cache", None)
    assert utils.is_debugging_enabled() is False


def test_extra_conf_turns_call_site_capture_back_on(spark, monkeypatch):
    """A caller's extra_conf wins over the constant in the builder conf.
    getOrCreate is replaced by a probe that records the builder's options
    and hands back the running session, so no second driver starts."""
    from pyspark.sql import SparkSession

    from tagmarshal_data_lakehouse_spark.session import get_spark

    seen: dict[str, str] = {}

    def probe(builder):
        seen.update(builder._options)
        return spark

    monkeypatch.setattr(SparkSession.Builder, "getOrCreate", probe)
    get_spark(extra_conf={"spark.python.sql.dataFrameDebugging.enabled": "true"})
    assert seen["spark.python.sql.dataFrameDebugging.enabled"] == "true"
    seen.clear()
    get_spark()
    assert seen["spark.python.sql.dataFrameDebugging.enabled"] == "false"
