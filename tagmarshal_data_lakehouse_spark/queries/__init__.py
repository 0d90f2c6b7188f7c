"""Named-query registry.

The reference keeps its analytic surface as named SQL strings
(dashboard/utils/queries.py, pipeline/queries/**). This engine keeps the
same idea but each query is a *builder*: a function (spark, sf_dir) ->
DataFrame, declared with an optional ANSI-SQL oracle equivalent (runnable
by DuckDB on the same parquet files) used by the correctness harness.

Determinism contract (so a value-hash against the oracle matches):
- every computed column is aliased identically in builder and oracle;
- double aggregations go through exact DECIMAL sums and are converted
  back to double with identical expression shape on both sides (IEEE ops
  on identical inputs are bit-identical);
- ties in top-k / dedup windows are broken by a unique key;
- approximate aggregates (percentile_approx, minhash, …) never appear in
  oracle-checked outputs — exact forms are checked, approximate forms are
  exposed as separate rows-only queries (the 100 TB scale path).
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

TABLES = (
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


@dataclass(frozen=True)
class Query:
    """One registry entry: a Spark builder + optional DuckDB oracle SQL."""

    name: str
    build: Callable[[SparkSession, str], DataFrame]
    oracle: str | None
    doc: str = ""


def load_views(spark: SparkSession, sf_dir: str, tables: tuple[str, ...] = TABLES) -> None:
    """Register the testdata parquet tables as temp views.

    Reading straight from parquet keeps Catalyst's filter pushdown and
    column pruning live (the scan only materializes what each query
    projects — check `.explain` for PushedFilters/ReadSchema).

    Must work under ANY externally-built SparkSession, not only the
    package's own session factory, and must yield the SAME `events.ts`
    type everywhere. The testdata has shipped it two ways:

    - parquet TIMESTAMP(MICROS, isAdjustedToUTC=false) — the current
      shape. Read as TIMESTAMP_NTZ (inferTimestampNTZ set for the
      registration reads and restored after, so a session configured
      otherwise agrees without this function permanently mutating that
      session's conf) and KEPT NTZ: naive on the
      Spark side exactly as DuckDB's naive TIMESTAMP, so oracle
      comparisons never depend on the session timezone. Queries use only
      NTZ-safe functions over it (TIMESTAMPDIFF / DATE_TRUNC — never
      unix_micros, which requires LTZ).
    - parquet TIMESTAMP(NANOS), which a plain session refuses to read
      (PARQUET_TYPE_ILLEGAL; all 47 round-1 rows). nanosAsLong is a
      runtime-settable SQL conf, so set it here rather than relying on
      session-build time, then rebuild µs timestamps from the long.

    Each table is also failure-isolated: one unreadable table must not
    take down queries that never touch it.
    """
    # Registration is idempotent per (session, sf_dir, tables): every
    # registry builder calls load_views, so without this marker a
    # multi-query run (bench.py, the correctness sweep) re-reads 10
    # parquet footers per query. Temp views are just named logical plans
    # — re-registering identical ones buys nothing.
    marker = f"{sf_dir}|{','.join(tables)}"
    try:
        if spark.conf.get("spark.graft.views.loaded", "") == marker:
            return
    except Exception:  # noqa: BLE001 — conf access must never fail a query
        pass

    # Runtime-settable; makes TIMESTAMP(NANOS) columns readable as long
    # (then rebuilt as µs timestamps below) under any session. Left set
    # (not restored): it only affects files physically containing
    # TIMESTAMP(NANOS), which a plain session cannot read AT ALL, so it
    # cannot change the inferred type of any column the caller could
    # otherwise read.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")

    # TIMESTAMP(MICROS, adjusted=false) must read as NTZ under every
    # session so query semantics don't depend on who built the session.
    # The conf is set for the registration reads only and RESTORED in
    # the finally below: schema inference happens eagerly at read(), so
    # the registered views keep NTZ (verified under a restored-false
    # session), while the caller's own later unadjusted-UTC parquet
    # reads keep the semantics their session configured. (A per-read
    # parquet reader option would be cleaner, but Spark silently ignores
    # an `inferTimestampNTZ` option — only the conf is honored.)
    ntz_key = "spark.sql.parquet.inferTimestampNTZ.enabled"
    try:
        prior_ntz: str | None = spark.conf.get(ntz_key)
    except Exception:  # noqa: BLE001 — unreadable: restore by unsetting
        prior_ntz = None
    spark.conf.set(ntz_key, "true")

    errors: dict[str, Exception] = {}
    try:
        _register_tables(spark, sf_dir, tables, errors)
    finally:
        if prior_ntz is not None:
            spark.conf.set(ntz_key, prior_ntz)
        else:
            # The pre-read raised, i.e. the conf had no readable value —
            # leaving our "true" behind would permanently mutate the
            # caller's session; unset returns the key to its default.
            try:
                spark.conf.unset(ntz_key)
            except Exception:  # noqa: BLE001 — never fail a query on restore
                pass
    if errors and len(errors) == len(tables):
        # Nothing loaded at all — surface the first real failure.
        raise next(iter(errors.values()))
    if not errors:
        spark.conf.set("spark.graft.views.loaded", marker)


def _register_tables(
    spark: SparkSession,
    sf_dir: str,
    tables: tuple[str, ...],
    errors: dict[str, Exception],
) -> None:
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType

    for t in tables:
        try:
            df = spark.read.parquet(f"{sf_dir}/{t}.parquet")
            if t == "events" and isinstance(df.schema["ts"].dataType, LongType):
                # TIMESTAMP(NANOS) read as long (nanosAsLong); the data is
                # µs-precision so nanos are exact multiples of 1000 and the
                # floor division is lossless. DuckDB performs the same
                # ns->µs truncation when it maps this column to TIMESTAMP.
                # Built as NTZ directly (epoch + µs) so both testdata
                # vintages present one type, with no session-timezone
                # dependence anywhere on the path.
                df = df.withColumn(
                    "ts",
                    F.expr(
                        "timestampadd(MICROSECOND, ts div 1000,"
                        " TIMESTAMP_NTZ '1970-01-01 00:00:00')"
                    ),
                )
            df.createOrReplaceTempView(t)
        except Exception as exc:  # noqa: BLE001 — isolate per-table failure
            errors[t] = exc


def registry() -> dict[str, Query]:
    """Assemble the full named-query registry, family by family."""
    from . import events_ops, relational, telemetry_bridge, tpch
    from ..training import queries as training_queries

    out: dict[str, Query] = {}
    for qs in (
        relational.QUERIES,
        events_ops.QUERIES,
        training_queries.QUERIES,
        tpch.QUERIES,
        telemetry_bridge.QUERIES,
    ):
        for q in qs:
            if q.name in out:
                raise ValueError(f"duplicate query name {q.name}")
            out[q.name] = q
    return out
