"""Bronze readers for raw round documents (SURVEY §2.1 S1-S4, §1.2).

Two encodings of the same logical entity — a round with a nested
locations[] array:

- JSON (MongoDB export): nested arrays, `{"$oid": …}` / `{"$date": …}`
  scalar wrappers that may or may not be present per file;
- CSV (flattened, ragged): `locations[N].field` columns where N and the
  column order vary per file.

Correctness traps handled (SURVEY §7.4 traps 5-6):
- each CSV is read with its OWN header then unioned by name with
  missing-column fill — one glob read would positionally misalign;
- Mongo struct subfields are referenced only if present in the schema
  (AnalysisException otherwise).
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

_LOCATION_INDEX_RE = re.compile(r"^locations\[(\d+)\]\.startTime$")


def bracket_col(name: str) -> Column:
    """Backtick-escaped column ref for `locations[0].hole`-style names
    (reference etl.py:35-37)."""
    return F.col(f"`{name}`")


def glob_paths(spark: SparkSession, pattern: str) -> list[str]:
    """Sorted paths matching a Hadoop glob, hidden (`_*`, `.*`) names
    skipped as Spark's file index skips them.  One
    `FileSystem.globStatus` metadata call: it works on any Hadoop FS
    (local, HDFS, s3a) and starts no Spark job."""
    jvm = spark.sparkContext._jvm
    glob = jvm.org.apache.hadoop.fs.Path(pattern)
    fs = glob.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration())
    # globStatus returns null (not an empty array) for a missing plain path
    statuses = fs.globStatus(glob) or []
    return sorted(
        s.getPath().toString()
        for s in statuses
        if not s.getPath().getName().startswith(("_", "."))
    )


def detect_format(spark: SparkSession, path: str) -> str:
    """CSV vs JSON probe by file listing (reference etl.py:40-61): file
    metadata only, no Spark job."""
    for fmt in ("json", "csv"):
        probe = path if path.endswith(f".{fmt}") else f"{path}/*.{fmt}"
        if glob_paths(spark, probe):
            return fmt
    return "csv"


def discover_location_indices(columns: list[str]) -> list[int]:
    """Location slots present in a flattened CSV header — anchored on the
    `locations[N].startTime` column (reference etl.py:64-72)."""
    return sorted(
        int(m.group(1)) for c in columns if (m := _LOCATION_INDEX_RE.match(c))
    )


def read_rounds_json(spark: SparkSession, path: str) -> DataFrame:
    """MongoDB-export JSON array (multiLine — reference etl.py:137-146)."""
    json_path = path if path.endswith(".json") else f"{path}/*.json"
    return spark.read.option("multiLine", True).json(json_path)


def read_rounds_csv(spark: SparkSession, path: str) -> DataFrame:
    """Ragged flattened CSVs: per-file read + unionByName
    (reference etl.py:147-184).

    Scale note: the per-file loop builds the LOGICAL plan per file; the
    reads still execute as parallel Spark tasks.  File listing collects
    paths only (metadata, not data, and no Spark job)."""
    csv_path = path if path.endswith(".csv") else f"{path}/*.csv"
    files = glob_paths(spark, csv_path)
    if not files:
        raise ValueError(f"no CSV files at {csv_path}")
    out: DataFrame | None = None
    for p in files:
        df = (
            spark.read.option("header", True)
            .option("escape", '"')
            .option("multiLine", False)
            .csv(p)
        )
        out = df if out is None else out.unionByName(df, allowMissingColumns=True)
    return out


def read_rounds(spark: SparkSession, path: str) -> tuple[DataFrame, str]:
    """Auto-detecting bronze read; returns (frame, format)."""
    fmt = detect_format(spark, path)
    df = read_rounds_json(spark, path) if fmt == "json" else read_rounds_csv(spark, path)
    return df, fmt


def safe_col(schema: T.StructType, name: str) -> Column:
    """Reference a possibly-Mongo-wrapped field of a frame with `schema`,
    tolerating absence.

    `{"$oid": …}` / `{"$date": …}` wrappers vary per export file;
    referencing a missing struct subfield is a planning-time error, so
    the candidates are chosen by schema introspection
    (reference etl.py:217-243).  Callers fetch the schema once and pass
    it: each `DataFrame.schema` call is a round trip to the JVM.
    """
    if name not in schema.names:
        return F.lit(None)
    dtype = schema[name].dataType
    if isinstance(dtype, T.StructType):
        subfields = {f.name for f in dtype.fields}
        candidates = [
            F.col(f"{name}.{sub}") for sub in ("$oid", "$date") if sub in subfields
        ]
        if not candidates:
            return F.lit(None)
        return candidates[0] if len(candidates) == 1 else F.coalesce(*candidates)
    return bracket_col(name)


def read_seed_csv(spark: SparkSession, path: str, schema: T.StructType) -> DataFrame:
    """Typed seed CSV (topology / course-profile seeds — reference
    dimensions.py:409-422,437-451): explicit schema, no inference."""
    header = spark.read.option("header", True).csv(path)
    cols = [
        F.col(f.name).cast(f.dataType).alias(f.name)
        for f in schema.fields
        if f.name in header.columns
    ]
    missing = [
        F.lit(None).cast(f.dataType).alias(f.name)
        for f in schema.fields
        if f.name not in header.columns
    ]
    return header.select(*cols, *missing)
