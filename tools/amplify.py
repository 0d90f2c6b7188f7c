"""The probes' measurement corpus: key-consistent k-fold amplification of
the ten sf tables, the bronze corpus of the silver/gold probes, and the
helpers every probe shares.

    python tools/amplify.py <src_sf_dir> <k> <out_dir>
    SPARK_GRAFT_SF_DIR=<out_dir> python bench.py

writes one `<table>.parquet` file per table (the testdata layout), so
`queries.load_views`, the DuckDB oracle and bench.py read the output
unchanged, and prints one JSON line per table with its row count and
value hash.  Replica r of a row offsets each key by r * (max(key) + 1)
of the source, so replicas never collide and every foreign key stays
inside its own replica:

- orders/lineitem offset the order key together; customer/orders the
  customer key, so every lineitem joins an order and every order a
  customer;
- region, nation, supplier and part are copied unchanged (the
  dimensions do not grow with the facts);
- events offsets event_id and user_id: the user population grows with
  k, so per-user sessions and stream state grow like a deployment's;
- documents and embeddings offset their ids and perturb each replica
  (amplify_docs, amplify_embeddings) so dedup operators do real work —
  a pure copy would collapse to the 1x distinct set.

Replica 0 is the source row unchanged.  Tables are read through
`load_views`, so `events.ts` and the TPC-H dates stay TIMESTAMP_NTZ.
The output is value-stable, not byte-stable: parquet-mr orders a
column's encodings list differently from one write to the next, so
compare regenerations with `value_hashes`, not file checksums.
"""

from __future__ import annotations

import glob
import json
import math
import os
import shutil
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import DataFrame, SparkSession  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from perfbench import bronze_gen  # noqa: E402
from tagmarshal_data_lakehouse_spark.queries import TABLES, load_views  # noqa: E402

# table -> {column: (table, key)}: the column is offset per replica by
# the source's max(key) + 1.  Tables not listed are copied unchanged.
OFFSETS = {
    "customer": {"c_custkey": ("customer", "c_custkey")},
    "orders": {"o_orderkey": ("orders", "o_orderkey"), "o_custkey": ("customer", "c_custkey")},
    "lineitem": {"l_orderkey": ("orders", "o_orderkey")},
    "events": {"event_id": ("events", "event_id"), "user_id": ("events", "user_id")},
    "documents": {"doc_id": ("documents", "doc_id")},
    "embeddings": {"vec_id": ("embeddings", "vec_id")},
}

# Row groups small enough that Spark splits a 10x table's scan over the
# cores; one 128 MiB group would put all of lineitem in one task.
ROW_GROUP_BYTES = 8 << 20


def amplify_docs(df: DataFrame, n: int, dup_frac: float) -> DataFrame:
    """Perturb the replicas' text (`df` carries `__rep` and the ORIGINAL
    doc_id; `n` is the id stride).  dup_frac=1.0: every replica is a
    NEAR-copy of its original (one unique trailing token), i.e. a
    duplicate-saturated corpus where ~every doc has reps-1 near-dups —
    the worst case for pair-emitting dedup.  dup_frac=0.2 models a
    REALISTIC duplication rate instead: only that fraction of originals
    get near-copy replicas; the rest get replicas diluted with enough
    unique filler tokens to land below dedup thresholds (unique
    content growth, not duplication)."""
    rep = F.col("__rep")
    # the replica-unique marker id is derived from the ORIGINAL
    # doc_id + the replica offset, while near/far membership keys on
    # the ORIGINAL doc_id — so every replica of one original falls
    # on the same side (doc_id % 100 < dup_frac*100; base ids are
    # 0..n-1 with n a multiple of 100 in all testdata sf dirs, so
    # the fraction is exact and replica-independent)
    rep_id = (F.col("doc_id") + rep * n).cast("string")
    # perturbation token is unique PER ROW (df=1): a per-replica
    # marker (df = N/reps) crosses any fractional df cap as reps
    # grows and glues unrelated same-replica docs together,
    # polluting similarity measurements (observed: 195M pairs @16x)
    near = F.concat(F.col("text"), F.lit(" rv"), rep_id)
    # genuine NON-duplicate growth: suffix EVERY token with a
    # replica-unique marker, so a far replica shares ZERO token
    # grams with its original and with every other replica
    # (appending filler tokens cannot work: pushing a 54-token doc
    # below Jaccard 0.5 would need more filler than the doc itself)
    far = F.regexp_replace(F.col("text"), r"(\S+)", F.concat(F.lit(r"$1u"), rep_id))
    is_dup = (F.col("doc_id") % 100) < F.lit(int(dup_frac * 100))
    perturbed = near if dup_frac >= 1.0 else F.when(is_dup, near).otherwise(far)
    return df.withColumn("text", F.when(rep == 0, F.col("text")).otherwise(perturbed))


def amplify_embeddings(df: DataFrame) -> DataFrame:
    """Nudge the replicas' dim 0 (`df` carries `__rep` and the OFFSET
    vec_id): a per-row, not per-replica, perturbation by a unique
    id-derived epsilon so replicas are near- but not exact copies — LSH
    buckets stay realistically mixed instead of collapsing every
    replica set into one saturated bucket."""
    return df.withColumn(
        "embedding",
        F.when(F.col("__rep") == 0, F.col("embedding")).otherwise(
            F.expr(
                "transform(embedding, (x, j) -> CASE WHEN j = 0 "
                "THEN cast(x + (vec_id % 997) * 1e-6 as float) ELSE x END)"
            )
        ),
    )


def amplify_table(
    spark: SparkSession, table: str, k: int, strides: dict, dup_frac: float
) -> DataFrame:
    """`table` (a registered view) amplified k-fold in ONE broadcast
    cross-join against spark.range(k).  A left-deep chain of k
    unionByName calls gives the same rows, but Catalyst analysis of that
    chain is quadratic in branch count and stalls the DRIVER for many
    minutes at k=1024 before a single task runs."""
    base = spark.table(table)
    df = base.crossJoin(F.broadcast(spark.range(k).toDF("__rep")))
    if table == "documents":
        df = amplify_docs(df, strides["documents", "doc_id"], dup_frac)
    df = df.withColumns(
        {
            col: (F.col(col) + F.col("__rep") * strides[key]).cast(base.schema[col].dataType)
            for col, key in OFFSETS[table].items()
        }
    )
    if table == "embeddings":
        df = amplify_embeddings(df)
    return df.drop("__rep")


def amplify(
    spark: SparkSession, src_dir: str, k: int, out_dir: str, tables=TABLES, dup_frac: float = 1.0
) -> None:
    """Write `tables` of `src_dir` amplified k-fold to `out_dir`."""
    os.makedirs(out_dir, exist_ok=True)
    load_views(spark, src_dir)
    keys = {key for t in tables for key in OFFSETS.get(t, {}).values()}
    strides = {
        (t, c): spark.table(t).agg(F.max(c)).first()[0] + 1 for t, c in sorted(keys)
    }
    for table in tables:
        dst = os.path.join(out_dir, f"{table}.parquet")
        if table not in OFFSETS:
            shutil.copyfile(os.path.join(src_dir, f"{table}.parquet"), dst)
            continue
        tmp = os.path.join(out_dir, f".{table}.tmp")
        (
            amplify_table(spark, table, k, strides, dup_frac)
            .coalesce(1)
            .write.mode("overwrite")
            .option("parquet.block.size", ROW_GROUP_BYTES)
            .parquet(tmp)
        )
        (part,) = glob.glob(os.path.join(tmp, "part-*.parquet"))
        os.replace(part, dst)
        shutil.rmtree(tmp)


def value_hashes(spark: SparkSession, sf_dir: str) -> dict[str, dict]:
    """Per table: row count and SUM(CAST(xxhash64(*) AS DECIMAL(38,0))),
    an order-independent fingerprint of the values."""
    load_views(spark, sf_dir)
    out = {}
    for t in TABLES:
        df = spark.table(t)
        rows, digest = df.agg(
            F.count(F.lit(1)), F.sum(F.xxhash64(*df.columns).cast("decimal(38,0)"))
        ).first()
        out[t] = {"rows": rows, "value_hash": str(digest)}
    return out


def bronze_corpus(root: str, reps: int) -> bronze_gen.BronzeCorpus:
    """The silver probes' bronze input, grown on both axes like the
    reference's own growth (more courses x more rounds per course):
    courses = 4*sqrt(reps), rounds/course = 50*sqrt(reps), plus one
    50-round refresh course-day on a later ingest date — reps
    1/16/64/256 -> 200/3.2k/12.8k/51.2k backfill rounds.  Landed in
    the `bronze_gen` layout with its traits (duplicate cached fixes,
    quarantine bait, rounds without timestamps, nine-hole rounds);
    the returned corpus carries the row counts silver must produce."""
    scale = math.isqrt(reps)
    assert scale * scale == reps, f"reps must be a perfect square, got {reps}"
    shutil.rmtree(root, ignore_errors=True)
    return bronze_gen.generate(root, 0, 4 * scale, 50 * scale, 1, 50)


def scaling_exponent(points: list[tuple[int, float]]) -> float | None:
    """Fitted p of t ~ N^p between the first and last (reps, sec) point
    (p=1 linear, p=2 quadratic); None below two points.  Times clamp at
    1 ms so a phase rounding to 0.0 cannot divide by zero."""
    if len(points) < 2:
        return None
    (r0, t0), (r1, t1) = points[0], points[-1]
    return round(math.log(max(t1, 1e-3) / max(t0, 1e-3)) / math.log(r1 / r0), 2)


def files_per_leaf(table_dir: str) -> dict:
    """Layout readout of a partitioned table (the r11 clustered-write
    fix): every (course, ingest, event_date) leaf must hold exactly ONE
    data file at every corpus scale — the 63k-file cliff was files
    growing with upstream task count."""
    leaves: dict[str, int] = {}
    for f in glob.glob(os.path.join(table_dir, "**", "*.parquet"), recursive=True):
        leaves[os.path.dirname(f)] = leaves.get(os.path.dirname(f), 0) + 1
    most = max(leaves.values(), default=0)
    return {"leaf_dirs": len(leaves), "max_files_per_leaf": most, "layout_ok": most == 1}


def check_landing(what: str, landed: tuple[int, int], days: list, layout: dict) -> None:
    """Raise unless silver landed exactly the generator's (valid,
    quarantined) fixes of `days`, one data file per leaf (files_per_leaf)."""
    want = (sum(d.fixes_valid for d in days), sum(d.fixes_quarantined for d in days))
    if landed != want:
        raise RuntimeError(f"{what}: silver landed {landed}, bronze_gen wrote {want}")
    if not layout["layout_ok"]:
        raise RuntimeError(
            f"{what}: clustered write broke, {layout['max_files_per_leaf']} files in one leaf"
        )


def emit(**fields) -> None:
    """One JSON line of probe output, flushed so a long run can be tailed."""
    print(json.dumps(fields), flush=True)


def print_calibration(spark: SparkSession, sf_dir: str) -> None:
    """bench.py's machine fingerprint as a probe's first output line:
    the probes' IO-shaped paths (state stores, partitioned writes) need
    the cold disk-read rate and load on record for an outlier to be
    attributable without a rerun campaign."""
    import bench

    emit(preamble="calibration", **bench._calibration(spark, sf_dir))


def probe_session(app_name: str) -> SparkSession:
    """The production session (session.get_spark) at the probes' shape.
    The session shape is part of what an octave measures, so the
    defaults never change; SCALE_PROBE_DRIVER_MEM and
    SCALE_PROBE_SHUFFLE_PARTS exist for one-knob reruns (r10, the
    sixth-octave heap investigation: attributing a super-linear reading
    to "heap pressure" vs "algorithm")."""
    from tagmarshal_data_lakehouse_spark.session import get_spark

    spark = get_spark(
        app_name=app_name,
        shuffle_partitions=int(os.environ.get("SCALE_PROBE_SHUFFLE_PARTS", "32")),
        driver_memory=os.environ.get("SCALE_PROBE_DRIVER_MEM", "48g"),
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def select_ops(operators: dict, env_var: str) -> dict:
    """The operators named in `env_var` (comma-separated), for targeted
    re-measurement after an optimization; all of them when it is unset."""
    only = os.environ.get(env_var)
    if not only:
        return operators
    wanted = {x.strip() for x in only.split(",") if x.strip()}
    unknown = wanted - set(operators)
    if unknown:
        raise SystemExit(f"{env_var} unknown operators: {sorted(unknown)}")
    return {k: v for k, v in operators.items() if k in wanted}


def main() -> int:
    if len(sys.argv) != 4:
        raise SystemExit("usage: python tools/amplify.py <src_sf_dir> <k> <out_dir>")
    src_dir, k, out_dir = sys.argv[1], int(sys.argv[2]), sys.argv[3]

    from tagmarshal_data_lakehouse_spark.session import get_spark

    spark = get_spark(app_name="amplify")
    spark.sparkContext.setLogLevel("ERROR")
    amplify(spark, src_dir, k, out_dir)
    for table, digest in value_hashes(spark, out_dir).items():
        emit(table=table, **digest)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
