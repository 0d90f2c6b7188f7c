"""Managed-table storage layer: the Delta/Iceberg role on plain Spark.

The reference uses Iceberg for ACID appends, MERGE upserts, idempotent
partition rewrites and schema evolution (SURVEY §2.1 S6-S9).  When
delta-spark is importable the same operations map 1:1 onto Delta; in this
container (no Delta) the layer provides the operational equivalents on
partitioned Parquet tables:

- `write_partitioned` + `replace_partitions`: idempotent partition
  rewrite via INSERT OVERWRITE with dynamic partitionOverwriteMode —
  one atomic-per-partition op replacing the reference's DELETE+append
  (etl.py:639-677).
- `merge_upsert`: keyed upsert emulated as union + ordered-window
  latest-wins rewrite (the plan Delta's MERGE lowers to for full-table
  merges of small dims).
- `align_to_schema`: schema evolution on append — missing columns
  null-filled, extras dropped, order fixed (etl.py:654-673).

Tables are directories under a warehouse root, registered as temp views;
partition columns are physical subdirectories so Catalyst prunes
partitions on `course_id = …` filters exactly as with Iceberg hidden
partitioning.

Schema-on-read: every write persists the table's logical schema to
`_engine_schema.json` in the table directory (the Delta/Iceberg metadata
role) and `read` applies it via `spark.read.schema(...)`.  That pins
partition-column types (a string ingest_date partition dir would
otherwise be type-INFERRED back as DATE), null-fills columns missing
from older files (additive schema evolution without a mergeSchema footer
sweep), and keeps column order stable across writes.
"""

from __future__ import annotations

import json
import os
import shutil
import threading
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window as W


def _link_tree(src: str, dst: str) -> None:
    """Snapshot-copy a table directory: parquet data files HARDLINK
    (write-once — a later dynamic-partition overwrite unlinks them from
    the live dir but never mutates the inode), while metadata files
    (`_engine_schema.json`, `_SUCCESS`, …) are COPIED, so the snapshot
    owns them whatever a later writer does to the live ones."""
    for walk_root, _dirs, files in os.walk(src):
        rel = os.path.relpath(walk_root, src)
        out_dir = dst if rel == "." else os.path.join(dst, rel)
        os.makedirs(out_dir, exist_ok=True)
        for f in files:
            s, d = os.path.join(walk_root, f), os.path.join(out_dir, f)
            if f.startswith(("_", ".")):
                shutil.copy2(s, d)
            else:
                os.link(s, d)


def _dump_json_atomic(path: str, doc) -> None:
    """Write `doc` as JSON to `path` so that a reader sees the old file or
    the new one, never a torn one: the text goes to a temp file in the
    same directory, which `os.replace` then renames over `path` (atomic
    on POSIX).  A failed write removes the temp file and leaves `path`
    as it was.  The temp name starts with `path`'s basename, so for
    table metadata it starts with `_`, which Spark's file listing and
    `Lakehouse.exists` skip."""
    tmp = f"{path}.{os.getpid()}-{threading.get_ident()}.tmp"
    try:
        with open(tmp, "w") as fh:
            json.dump(doc, fh)
        os.replace(tmp, path)
    finally:
        if os.path.exists(tmp):
            os.remove(tmp)


def _quote(name: str) -> str:
    """`name` as a SQL identifier: backticks around it, inner ones doubled."""
    return "`" + name.replace("`", "``") + "`"


def _sql_type(dt: T.DataType) -> str:
    """`dt` as a SQL type string.  `simpleString()` except inside a
    struct, whose field names are quoted and whose non-nullable fields
    keep `NOT NULL`.  Element and value nullability of arrays and maps
    have no SQL spelling: a cast to such a type yields nullable ones."""
    if isinstance(dt, T.StructType):
        fields = (
            f"{_quote(f.name)}:{_sql_type(f.dataType)}{'' if f.nullable else ' NOT NULL'}"
            for f in dt.fields
        )
        return f"struct<{','.join(fields)}>"
    if isinstance(dt, T.ArrayType):
        return f"array<{_sql_type(dt.elementType)}>"
    if isinstance(dt, T.MapType):
        return f"map<{_sql_type(dt.keyType)},{_sql_type(dt.valueType)}>"
    return dt.simpleString()


class Lakehouse:
    """A warehouse root holding named partitioned Parquet tables."""

    def __init__(self, spark: SparkSession, root: str, versioned: bool = False):
        self.spark = spark
        self.root = root
        # Opt-in snapshot versioning (the Iceberg/Delta time-travel role
        # the reference gets from its Iceberg catalog): every mutating
        # operation first hardlinks the current table state into
        # .snapshots/<table>/v{N} — O(files) metadata work, zero data
        # copied, and parquet files are immutable once written so the
        # links stay valid through appends, dynamic partition overwrites
        # and shadow swaps alike. See read_version/history/restore.
        self.versioned = versioned
        os.makedirs(root, exist_ok=True)

    def path(self, table: str) -> str:
        return os.path.join(self.root, table.replace(".", "/"))

    def exists(self, table: str) -> bool:
        p = self.path(table)
        return os.path.isdir(p) and any(
            not f.startswith(("_", ".")) for f in os.listdir(p)
        )

    # -- schema metadata ---------------------------------------------------

    def _schema_file(self, table: str) -> str:
        return os.path.join(self.path(table), "_engine_schema.json")

    def _load_schema(self, table: str) -> T.StructType | None:
        p = self._schema_file(table)
        if os.path.isfile(p):
            with open(p) as fh:
                return T.StructType.fromJson(json.load(fh))
        return None

    def _save_schema(self, table: str, df: DataFrame, *, reset: bool = False) -> None:
        """Persist the logical schema; appends merge ADDITIVELY (existing
        column types win, brand-new columns are appended) so evolution
        never drops or retypes columns older files still carry."""
        new = df.schema
        if not reset:
            old = self._load_schema(table)
            if old is not None:
                have = {f.name for f in old.fields}
                new = T.StructType(
                    list(old.fields) + [f for f in new.fields if f.name not in have]
                )
        _dump_json_atomic(self._schema_file(table), new.jsonValue())

    # -- snapshot versioning (time travel) ---------------------------------

    def _snap_root(self, table: str) -> str:
        return os.path.join(self.root, ".snapshots", table.replace(".", "/"))

    def _snap_log_file(self, table: str) -> str:
        return os.path.join(self._snap_root(table), "_log.json")

    def _snap_log(self, table: str) -> list[dict]:
        p = self._snap_log_file(table)
        if os.path.isfile(p):
            with open(p) as fh:
                return json.load(fh)
        return []

    def _snapshot(self, table: str, op: str) -> int | None:
        """Record the CURRENT table state as the next version (hardlink
        copy — no row data moves; parquet files are write-once so links
        survive every later mutation). No-op when versioning is off or
        the table does not exist yet."""
        if not self.versioned or not self.exists(table):
            return None
        log = self._snap_log(table)
        v = (log[-1]["version"] + 1) if log else 1
        src, dst = self.path(table), os.path.join(self._snap_root(table), f"v{v}")
        # a v{N} with no log entry is what a crash before the log write
        # left behind: replace it
        shutil.rmtree(dst, ignore_errors=True)
        _link_tree(src, dst)
        log.append({"version": v, "ts": time.time(), "op": op})
        _dump_json_atomic(self._snap_log_file(table), log)
        return v

    def history(self, table: str) -> DataFrame:
        """Version history: one row per retained snapshot plus the live
        state (version = last snapshot + 1, op = 'current')."""
        log = list(self._snap_log(table))
        snap_root = self._snap_root(table)
        retained = {
            int(d[1:]) for d in (os.listdir(snap_root) if os.path.isdir(snap_root) else [])
            if d.startswith("v")
        }
        rows = [
            (int(e["version"]), float(e["ts"]), str(e["op"]), e["version"] in retained)
            for e in log
        ]
        rows.append(((log[-1]["version"] + 1) if log else 1, time.time(), "current", True))
        return self.spark.createDataFrame(
            rows, "version int, ts double, op string, readable boolean"
        )

    def read_version(self, table: str, version: int) -> DataFrame:
        """Time travel: the table exactly as it was when snapshot
        `version` was taken (version N = the state that mutation N
        replaced). The snapshot carries its own _engine_schema.json, so
        schema evolution is travelled too."""
        snap = os.path.join(self._snap_root(table), f"v{version}")
        if not os.path.isdir(snap):
            raise FileNotFoundError(
                f"no snapshot v{version} for {table!r} (vacuumed or never taken)"
            )
        schema_file = os.path.join(snap, "_engine_schema.json")
        reader = self.spark.read
        if os.path.isfile(schema_file):
            with open(schema_file) as fh:
                reader = reader.schema(T.StructType.fromJson(json.load(fh)))
        return reader.parquet(snap)

    def restore(self, table: str, version: int) -> None:
        """Roll the live table back to snapshot `version`. The
        pre-restore state is itself snapshotted first, so a restore is
        never destructive and can be restored FROM."""
        snap = os.path.join(self._snap_root(table), f"v{version}")
        if not os.path.isdir(snap):
            raise FileNotFoundError(f"no snapshot v{version} for {table!r}")
        self._snapshot(table, f"pre-restore(v{version})")
        shadow = table + "__tmp"
        shadow_path = self.path(shadow)
        shutil.rmtree(shadow_path, ignore_errors=True)
        _link_tree(snap, shadow_path)
        self._swap_in(table, shadow)

    # -- reads ------------------------------------------------------------

    def read(self, table: str) -> DataFrame:
        schema = self._load_schema(table)
        reader = self.spark.read
        if schema is not None:
            # Explicit schema: no footer inference, partition-dir values
            # cast to the DECLARED type (not re-inferred), missing columns
            # in old files null-filled.
            reader = reader.schema(schema)
        return reader.parquet(self.path(table))

    def register(self, table: str, view: str | None = None) -> DataFrame:
        """Expose the table as a temp view for Spark SQL."""
        df = self.read(table)
        df.createOrReplaceTempView(view or table.replace(".", "_"))
        return df

    # -- writes -----------------------------------------------------------

    def align_to_schema(self, df: DataFrame, schema: T.StructType) -> DataFrame:
        """Project df onto `schema`: cast known columns, null-fill missing,
        drop unknown extras (the reference's pre-append alignment,
        etl.py:654-673).

        The projection is one `selectExpr` of SQL strings: a column that
        already has its declared type passes through as its quoted name,
        any other becomes `CAST(<col> AS <type>) AS <col>`, and a missing
        one `CAST(NULL AS <type>) AS <col>`.  A list of N strings crosses
        to the JVM in N+4 py4j commands and makes no JVM object per
        field, where a `Column` per field cost about four commands each
        (a fact row has ~50 fields; SCALE.md, "py4j round trips per
        refresh").  Names are backtick-quoted, so a `.` or a backtick in
        a column name is taken literally, not as a struct path.  The
        analyzed plan is the one the Column form built."""
        have = {f.name: f.dataType for f in df.schema.fields}
        exprs = []
        for field in schema.fields:
            name = _quote(field.name)
            if have.get(field.name) == field.dataType:
                exprs.append(name)
            else:
                src = name if field.name in have else "NULL"
                exprs.append(f"CAST({src} AS {_sql_type(field.dataType)}) AS {name}")
        return df.selectExpr(*exprs)

    @staticmethod
    def _cluster_for_write(df: DataFrame, partition_by: list[str]) -> DataFrame:
        """Co-locate each output partition's rows into one task before a
        partitionBy write.

        Without this, every upstream task holds rows for ~every leaf
        partition and writes a sliver into each dir — the silver/gold
        256x probe (SCALE.md r11) measured 63,488 files averaging ~20 KB
        across 1,984 leaf dirs (exactly shuffle_width files per dir),
        and every downstream model paid ~20 s of file-open tax per scan.
        One hash shuffle on the partition keys collapses that to one
        file per dir."""
        if not partition_by:
            return df
        return df.repartition(*[F.col(c) for c in partition_by])

    def write_partitioned(
        self,
        table: str,
        df: DataFrame,
        partition_by: list[str],
        mode: str = "append",
    ) -> None:
        self._snapshot(table, f"write_partitioned({mode})")
        (
            self._cluster_for_write(df, partition_by)
            .write.mode(mode)
            .partitionBy(*partition_by)
            .parquet(self.path(table))
        )
        self._save_schema(table, df, reset=(mode == "overwrite"))

    def replace_partitions(
        self,
        table: str,
        df: DataFrame,
        partition_by: list[str],
    ) -> None:
        """Idempotent partition rewrite: overwrite ONLY the partitions
        present in df.  Re-running an ingest for the same
        (course_id, ingest_date) yields the same table state — the
        reference's DELETE+append contract in one atomic-per-partition
        operation.  partitionOverwriteMode is forced dynamic PER WRITE so
        the contract holds under any session, not just ones built by
        session.py (a static-mode session would wipe the whole table)."""
        if not self.exists(table):
            self.write_partitioned(table, df, partition_by, mode="overwrite")
            return
        self._snapshot(table, "replace_partitions")
        (
            self._cluster_for_write(df, partition_by)
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy(*partition_by)
            .parquet(self.path(table))
        )
        self._save_schema(table, df)

    def overwrite(
        self,
        table: str,
        df: DataFrame,
        partition_by: list[str] | None = None,
    ) -> None:
        """Drop-and-recreate (reference S15, generate_sections_per_hole.py:112-118).
        Partitioned overwrites get the same key clustering as
        write_partitioned — the full gold build and merge_upsert's
        shadow write land through here, and an un-clustered layout pays
        the measured small-files tax on every downstream scan.

        partitionOverwriteMode is forced STATIC per write (the mirror
        of replace_partitions forcing dynamic): the package session
        defaults the conf to dynamic, under which a partitioned
        `.mode("overwrite")` would silently keep partitions ABSENT from
        the frame — replace semantics, not the drop-and-recreate this
        method promises (round-12 review finding: a course deleted from
        the incoming frame survived an 'overwrite')."""
        self._snapshot(table, "overwrite")
        if partition_by:
            df = self._cluster_for_write(df, partition_by)
        w = df.write.mode("overwrite")
        if partition_by:
            w = w.option("partitionOverwriteMode", "static").partitionBy(*partition_by)
        w.parquet(self.path(table))
        self._save_schema(table, df, reset=True)

    def merge_upsert(
        self,
        table: str,
        updates: DataFrame,
        keys: list[str],
        partition_by: list[str] | None = None,
    ) -> None:
        """MERGE INTO … WHEN MATCHED UPDATE WHEN NOT MATCHED INSERT
        (reference dimensions.py:366-398).

        Emulation: union(existing, updates) with a source-priority window
        keeping the update row per key — the plan Delta's MERGE lowers to
        for a full-table merge.  The merged frame is written FULLY
        DISTRIBUTED to a shadow directory, then swapped in with two
        directory renames (the read of the old directory completes during
        the shadow write, so the table is never read and clobbered at
        once).  No driver collect: a large dim or a misrouted fact can't
        OOM the driver."""
        if not self.exists(table):
            self.overwrite(table, updates, partition_by)
            return
        self._snapshot(table, "merge_upsert")
        existing = self.read(table)
        updates = self.align_to_schema(updates, existing.schema)
        merged = (
            existing.withColumn("_src", F.lit(0))
            .unionByName(updates.withColumn("_src", F.lit(1)))
            .withColumn(
                "_rn",
                F.row_number().over(
                    W.partitionBy(*keys).orderBy(F.col("_src").desc())
                ),
            )
            .filter(F.col("_rn") == 1)
            .drop("_src", "_rn")
        )
        shadow = table + "__tmp"
        self.overwrite(shadow, merged, partition_by)
        self._swap_in(table, shadow)

    # Characters Spark escapes in partition directory names (mirrors
    # ExternalCatalogUtils.escapePathName / Hive's FileUtils: ASCII
    # control chars 01-1F, DEL, and "#%'*/:=?\[]^{ — space is NOT
    # escaped; verified empirically against a partitionBy write).
    _PATH_ESCAPE_CHARS = frozenset('"#%\'*/:=?\\[]^{') | frozenset(
        chr(c) for c in range(0x01, 0x20)
    ) | {"\x7f"}

    @classmethod
    def _escape_partition_value(cls, v: str | None) -> str:
        """Partition value -> the directory-name fragment Spark wrote
        for it, so path probes match the physical layout even for
        values containing '/', ':', '%' etc. (ADVICE r12: an unescaped
        probe silently missed the escaped directory)."""
        if v is None or v == "":
            return "__HIVE_DEFAULT_PARTITION__"
        return "".join(
            f"%{ord(c):02X}" if c in cls._PATH_ESCAPE_CHARS else c for c in v
        )

    def drop_partitions(self, table: str, partition_col: str, values: list[str]) -> int:
        """Remove entire TOP-LEVEL partitions — the complement of
        replace_partitions, whose dynamic overwrite can only rewrite
        partitions PRESENT in the incoming frame and therefore cannot
        express "this course no longer exists".  Snapshotted like every
        other mutation, so time travel still sees the pre-drop state.
        Values are escaped to the directory names Spark actually wrote
        (`_escape_partition_value`), so a course_id containing '/' or
        ':' drops the `a%2Fb` directory instead of silently no-oping on
        the raw path.  Returns partitions removed (a value with no
        directory counts 0 — it may legitimately never have existed in
        this table, e.g. a course with no pace rows)."""
        if not self.exists(table) or not values:
            return 0
        self._snapshot(table, "drop_partitions")
        dropped = 0
        for v in values:
            d = os.path.join(
                self.path(table), f"{partition_col}={self._escape_partition_value(v)}"
            )
            if os.path.isdir(d):
                shutil.rmtree(d)
                dropped += 1
        return dropped

    def _swap_in(self, table: str, shadow: str) -> None:
        """Atomically replace `table`'s directory with `shadow`'s (two
        renames; readers that already resolved file paths finish on the
        __old directory before it is removed)."""
        dst, tmp = self.path(table), self.path(shadow)
        old = dst + "__old"
        shutil.rmtree(old, ignore_errors=True)
        os.rename(dst, old)
        os.rename(tmp, dst)
        shutil.rmtree(old, ignore_errors=True)

    # -- maintenance -------------------------------------------------------

    def _partition_layout(self, table: str, files: list[str]) -> list[str]:
        """Partition columns inferred from the hive `k=v` path segments
        of the table's data files (the physical truth, independent of
        how the last writer was invoked)."""
        if not files:
            return []
        rel = os.path.relpath(files[0], self.path(table))
        return [seg.split("=", 1)[0] for seg in rel.split(os.sep)[:-1] if "=" in seg]

    def table_data_files(self, table: str) -> list[str]:
        """All parquet data files under the table directory."""
        out = []
        for root, _dirs, files in os.walk(self.path(table)):
            out.extend(
                os.path.join(root, f)
                for f in files
                if f.endswith(".parquet") and not f.startswith(("_", "."))
            )
        return out

    def compact(
        self,
        table: str,
        sort_cols: list[str] | None = None,
        partition_by: list[str] | None = None,
        target_file_bytes: int = 128 * 1024 * 1024,
        zorder_by: list[str] | None = None,
    ) -> int:
        """Small-file compaction + optional sort-order clustering (the
        OPTIMIZE / Iceberg rewrite_data_files role).

        Incremental ingest (one replace_partitions per (course, day) —
        or one micro-batch in streaming) accretes many small files; at
        100 TB the scan cost becomes footer-bound and the scheduler
        task-bound.  Rewrite plan:

        - no sort_cols: coalesce() to ceil(bytes / target_file_bytes)
          output files — narrow, NO shuffle, just fewer larger files;
        - with sort_cols: repartitionByRange + sortWithinPartitions so
          each output file covers a disjoint range of the sort key —
          parquet min/max stats then prune whole files for point/range
          predicates on that ONE dimension;
        - with zorder_by: same rewrite but ordered by a Morton
          bit-interleave key (operators.zorder_key), so file-contiguous
          ranges are hypercubes and min/max stats prune on ANY of the
          participating columns (the OPTIMIZE ZORDER BY role).

        The rewrite lands in a shadow directory and swaps in atomically
        (same contract as merge_upsert), so concurrent readers never see
        a half-compacted table.  Returns the number of data files after
        compaction.
        """
        if sort_cols and zorder_by:
            raise ValueError("pass sort_cols or zorder_by, not both")
        self._snapshot(table, "compact")
        df = self.read(table)
        files = self.table_data_files(table)
        if partition_by is None:
            # preserve an existing hive layout: a rewrite must never
            # silently flatten course_id=... directories (that would
            # break downstream partition pruning)
            partition_by = self._partition_layout(table, files) or None
        total = sum(os.path.getsize(f) for f in files)
        n_files = max(1, -(-total // target_file_bytes))
        if zorder_by:
            from .operators import zorder_key

            zkey = zorder_key(df, zorder_by)
            df = (
                df.withColumn("_zkey", zkey)
                .repartitionByRange(n_files, F.col("_zkey"))
                .sortWithinPartitions("_zkey")
                .drop("_zkey")
            )
        elif sort_cols:
            df = df.repartitionByRange(n_files, *[F.col(c) for c in sort_cols])
            df = df.sortWithinPartitions(*sort_cols)
        else:
            df = df.coalesce(n_files)
        shadow = table + "__tmp"
        self.overwrite(shadow, df, partition_by)
        self._swap_in(table, shadow)
        return len(self.table_data_files(table))

    def vacuum(self, quarantine_keep: int = 10, snapshot_keep: int = 5) -> list[str]:
        """Reclaim storage from interrupted operations and old runs.

        - `*__tmp` / `*__old` directories are leftovers of a
          merge/compact swap that died between its renames — the live
          table is whichever rename completed, so the leftovers are
          always safe to drop;
        - quarantine run tables beyond the newest `quarantine_keep`
          (run-id sorted) are pruned, bounding the quarantine footprint
          the way Iceberg's snapshot expiry bounds metadata;
        - time-travel snapshots beyond the newest `snapshot_keep` per
          table are expired (the Iceberg expire_snapshots role): the
          hardlink dirs go, the log stays, so `history` keeps the full
          audit trail with `readable=false` on expired versions.

        Returns the removed paths (driver-side metadata op: O(dirs),
        never touches row data).
        """
        removed: list[str] = []
        snap_base = os.path.join(self.root, ".snapshots")
        for root, dirs, _files in os.walk(self.root, topdown=True):
            for d in list(dirs):
                if d.endswith(("__tmp", "__old")):
                    p = os.path.join(root, d)
                    shutil.rmtree(p, ignore_errors=True)
                    dirs.remove(d)
                    removed.append(p)
        if os.path.isdir(snap_base):
            for root, dirs, files in os.walk(snap_base):
                if "_log.json" not in files:
                    continue
                versions = sorted(
                    (int(d[1:]) for d in dirs if d.startswith("v")), reverse=True
                )
                for v in versions[snapshot_keep:] if snapshot_keep else versions:
                    p = os.path.join(root, f"v{v}")
                    shutil.rmtree(p, ignore_errors=True)
                    removed.append(p)
        qdir = os.path.join(self.root, "quarantine")
        if os.path.isdir(qdir):
            runs = sorted(d for d in os.listdir(qdir) if not d.startswith(("_", ".")))
            for d in runs[:-quarantine_keep] if quarantine_keep else runs:
                p = os.path.join(qdir, d)
                shutil.rmtree(p, ignore_errors=True)
                removed.append(p)
        return removed
