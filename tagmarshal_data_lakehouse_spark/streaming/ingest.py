"""Streaming silver ingest: file-source stream -> the batch silver
transform per micro-batch -> idempotent partition rewrite.

Design (Spark-first, SURVEY §7.2 M7):
- `readStream.schema(...).json(landing_root)` watches the landing zone
  (course_id=X/ingest_date=Y/*.json layout, the bronze key scheme of
  pipeline/bronze/ingest.py:121-123);
- course_id / ingest_date are recovered distributively from the file
  path via the `_metadata.file_path` hidden column — no driver-side
  listing;
- `foreachBatch` reuses the exact batch transform (transform_rounds)
  and landing (land_fixes), so streaming and batch silver rows are
  byte-identical — the batch path IS the semantics, streaming only
  changes arrival;
- each micro-batch ends in land_fixes' replace_partitions on (course_id,
  ingest_date, event_date), the same idempotent rewrite the batch
  ingest uses, so replays from the checkpoint cannot duplicate rows
  (exactly-once sink effect on top of at-least-once foreachBatch) and
  a later micro-batch can never clobber an earlier ingest_date's rows
  that share an event_date partition.

At scale: one file = one task at read; the transform is narrow until
the dedup window shuffle; partition rewrite touches only the partitions
present in the batch.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..silver import land_fixes, transform_rounds
from ..storage import Lakehouse

_COURSE_RE = r"course_id=([^/]+)"
_DATE_RE = r"ingest_date=([^/]+)"


def infer_bronze_schema(spark: SparkSession, sample_path: str) -> T.StructType:
    """Schema for the stream from already-landed sample files (streams
    require a fixed schema; inference at stream start is the standard
    pattern)."""
    return spark.read.option("multiLine", True).json(sample_path).schema


def _process_batch(lake: Lakehouse, table: str, topology: DataFrame | None):
    def inner(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        # ONE transform + ONE dynamic-partition write for the whole
        # micro-batch: course_id/ingest_date are Columns derived from the
        # file path, so every (course, date) slice flows through a single
        # plan and replace_partitions overwrites exactly the partitions
        # present.  (A per-pair loop here serializes a backfill-shaped
        # batch into hundreds of sequential writes — and its per-pair
        # quarantine overwrite clobbers earlier pairs' quarantine rows.)
        # The dedup window is scoped per (course_id, ingest_date) inside
        # dedup_fixes, so batching cannot dedup across ingests.
        out = transform_rounds(
            batch_df,
            "json",
            F.regexp_extract(F.col("_path"), _COURSE_RE, 1),
            F.regexp_extract(F.col("_path"), _DATE_RE, 1),
            topology,
        )
        land_fixes(lake, out, table, f"quarantine.stream_batch_{batch_id}")

    return inner


def stream_silver(
    spark: SparkSession,
    lake: Lakehouse,
    landing_root: str,
    schema: T.StructType,
    checkpoint_dir: str,
    table: str = "silver.fact_telemetry_event",
    topology: DataFrame | None = None,
    max_files_per_trigger: int = 100,
):
    """Start the streaming silver ingest; returns the StreamingQuery.

    Callers drive it with processAllAvailable() (tests/backfill) or let
    the default trigger run continuously (production tailing).
    """
    raw = (
        spark.readStream.schema(schema)
        .option("multiLine", True)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .json(f"{landing_root}/course_id=*/ingest_date=*")
        .withColumn("_path", F.col("_metadata.file_path"))
    )
    return (
        raw.writeStream.foreachBatch(_process_batch(lake, table, topology))
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )
