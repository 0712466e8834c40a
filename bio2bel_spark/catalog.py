"""Lakehouse-style catalog: parquet-backed managed tables + provenance log.

Replaces the reference's SQLAlchemy engine/metadata layer:

* table DDL (``create_all``/``drop_all``,
  ``/root/reference/src/bio2bel/manager/abstract_manager.py:232-247``) becomes
  parquet directory management under a warehouse root;
* the append-only ``Action`` provenance table
  (``/root/reference/src/bio2bel/models.py:40-133``) becomes an append-mode
  parquet table with the same ``(resource, action, created)`` shape;
* ``Action.ls`` ordering and "latest action per resource" (docstring pattern at
  ``models.py:16``) become ``orderBy(desc)`` and a ``row_number`` window.

Scale notes
-----------
Tables are plain parquet directories: writes are distributed, reads get
predicate pushdown + column pruning for free, and the same layout works on
HDFS/S3 paths. Partition columns can be supplied per table (e.g. partition a
100 TB edges table by source prefix). The provenance table is tiny and
append-only; appends produce one small file per event, which is fine at any
scale (compaction is a maintenance job, not a correctness concern).
"""

from __future__ import annotations

import os
import shutil
from typing import Iterable, Optional

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

#: Provenance action labels (reference: ``src/bio2bel/models.py:70-113``).
ACTION_POPULATE = "populate"
ACTION_POPULATE_FAILED = "populate_failed"
ACTION_DROP = "drop"

ACTIONS_TABLE = "_actions"

ACTION_SCHEMA = T.StructType(
    [
        T.StructField("resource", T.StringType(), False),
        T.StructField("action", T.StringType(), False),
        T.StructField("created", T.TimestampType(), False),
    ]
)


class Catalog:
    """Parquet-backed table catalog rooted at a warehouse directory."""

    def __init__(self, spark: SparkSession, warehouse: Optional[str] = None):
        self.spark = spark
        self.warehouse = warehouse or spark.conf.get("spark.sql.warehouse.dir")
        if self.warehouse.startswith("file:"):
            self.warehouse = self.warehouse[len("file:") :]
        os.makedirs(self.warehouse, exist_ok=True)

    # ------------------------------------------------------------------ tables
    def table_path(self, name: str) -> str:
        return os.path.join(self.warehouse, name)

    def table_exists(self, name: str) -> bool:
        path = self.table_path(name)
        if not os.path.isdir(path):
            return False
        # a parquet dir is "real" once it has a _SUCCESS marker or data files
        entries = os.listdir(path)
        return any(e == "_SUCCESS" or e.endswith(".parquet") for e in entries)

    def write_table(
        self,
        df: DataFrame,
        name: str,
        mode: str = "overwrite",
        partition_by: Optional[Iterable[str]] = None,
    ) -> None:
        writer = df.write.mode(mode)
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(self.table_path(name))

    def read_table(self, name: str) -> DataFrame:
        return self.spark.read.parquet(self.table_path(name))

    def compact_table(
        self,
        name: str,
        target_file_mb: int = 128,
        min_files: int = 2,
    ) -> int:
        """Rewrite a table's many small parquet files into
        ``ceil(bytes / target_file_mb)`` files; returns the new file count.

        The lakehouse maintenance op every append-heavy table needs:
        streaming micro-batches and incremental populates leave hundreds of
        KB-sized files, and at scale the scan cost becomes task-scheduling
        overhead (one task per tiny file) plus footer reads. Sizing from
        the actual on-disk bytes (not row counts) keeps output files near
        the block size whatever the schema. Rows are only moved when
        there's something to gain (``min_files``); data is rewritten
        atomically via a staging directory + rename so a mid-compaction
        failure never leaves the table truncated. Content is preserved
        exactly; file-internal row order may change (same contract as any
        OPTIMIZE)."""
        import math

        path = self.table_path(name)
        # a hive-partitioned layout (key=value dirs) must not be flattened:
        # rewriting it as plain files silently destroys partition pruning
        # for every downstream scan — refuse loudly; compact per-partition
        for dp, dirs, _ in os.walk(path):
            if any("=" in d for d in dirs):
                raise ValueError(
                    f"compact_table: {name!r} is hive-partitioned; a flat "
                    "rewrite would drop the partition layout (and partition "
                    "pruning with it). Compact each partition directory as "
                    "its own table instead."
                )
        files = [
            os.path.join(dp, f)
            for dp, _, fs in os.walk(path)
            for f in fs
            if f.endswith(".parquet")
        ]
        if len(files) < min_files:
            return len(files)
        total_bytes = sum(os.path.getsize(f) for f in files)
        n_out = max(1, math.ceil(total_bytes / (target_file_mb * (1 << 20))))
        if n_out >= len(files):
            return len(files)
        staging = path + ".__compacting__"
        # localCheckpoint pins the data before the overwrite below removes
        # the files the plan would lazily re-read
        df = self.read_table(name).repartition(n_out).localCheckpoint(eager=True)
        df.write.mode("overwrite").parquet(staging)
        shutil.rmtree(path)
        os.rename(staging, path)
        self.store_action(name, "compact")
        return len(
            [f for f in os.listdir(path) if f.endswith(".parquet")]
        )

    def expire_partitions(
        self,
        name: str,
        partition_col: str,
        keep_values: Optional[Iterable] = None,
        drop_values: Optional[Iterable] = None,
    ) -> list:
        """Retention for a hive-partitioned table: delete whole partition
        directories by value — the O(#dropped-partitions) data-lifecycle
        op (GDPR/TTL/rolling-window retention) that never rewrites or even
        READS surviving data, unlike a filtered overwrite which costs a
        full-table rewrite. Pass EITHER ``keep_values`` (drop everything
        else) or ``drop_values``; directory suffixes are URL-unquoted
        before comparing, so values hive-escapes on write (space, ``/``,
        ``:`` → ``%XX``) match the caller's RAW value. A requested value
        that matches no partition directory raises — for ``keep_values``
        the failure direction would otherwise be irreversible deletion of
        a partition the caller asked to keep. Returns the dropped (raw)
        values and records one provenance action per call.

        Local-filesystem listing like ``table_stats``; a cluster
        deployment swaps in the Hadoop FileSystem API — the directory
        semantics are identical.
        """
        if (keep_values is None) == (drop_values is None):
            raise ValueError("pass exactly one of keep_values / drop_values")
        path = self.table_path(name)
        prefix = f"{partition_col}="
        parts = [
            d for d in os.listdir(path)
            if os.path.isdir(os.path.join(path, d)) and d.startswith(prefix)
        ]
        if not parts:
            raise ValueError(
                f"expire_partitions: {name!r} has no {partition_col!r} "
                "partition directories"
            )
        from urllib.parse import unquote

        # raw partition value -> directory name (hive %XX-escapes decoded)
        raw_of = {d: unquote(d[len(prefix):]) for d in parts}
        present = set(raw_of.values())
        requested = {str(v) for v in (keep_values if keep_values is not None else drop_values)}
        missing = requested - present
        if missing:
            raise ValueError(
                f"expire_partitions: {sorted(missing)!r} match no "
                f"{partition_col!r} partition of {name!r} (present: "
                f"{sorted(present)!r})"
            )
        if keep_values is not None:
            doomed = [d for d in parts if raw_of[d] not in requested]
        else:
            doomed = [d for d in parts if raw_of[d] in requested]
        for d in doomed:
            shutil.rmtree(os.path.join(path, d))
        if doomed:
            self.store_action(name, "expire_partitions")
        return sorted(raw_of[d] for d in doomed)

    # ------------------------------------------------------- bucketed tables
    def write_bucketed_table(
        self,
        df: DataFrame,
        name: str,
        bucket_cols: Iterable[str],
        n_buckets: int = 32,
        mode: str = "overwrite",
    ) -> None:
        """Bucketed managed table for co-located joins (SURVEY §4 partitioning).

        Two tables bucketed on the same key with the same bucket count join
        WITHOUT a shuffle (verified by plan assertion in
        ``tests/test_catalog_bucketing.py``) — the strategy for repeated big
        joins (e.g. membership ⋈ protein at 100 TB). Bucket metadata lives in
        the session catalog; on a production deployment back the
        SparkSession with a shared metastore so bucketing survives sessions.
        """
        cols = list(bucket_cols)
        (
            df.write.mode(mode)
            .bucketBy(n_buckets, *cols)
            .sortBy(*cols)
            .option("path", self.table_path(name))
            .saveAsTable(name)
        )

    def read_bucketed_table(self, name: str) -> DataFrame:
        """Session-catalog read that preserves bucketing metadata (a plain
        ``read.parquet`` of the same path loses it)."""
        return self.spark.table(name)

    def table_stats(self, name: str) -> DataFrame:
        """One-scan table profile: ``(metric, value)`` rows with row count,
        file count/bytes (listing metadata, no data read), and a
        ``null_frac:<col>`` row per column — the quick health sheet a
        pipeline prints after a populate.

        All null fractions come from ONE aggregation (map-side combinable
        sums), so profiling cost is a single pass regardless of column
        count.

        File count/bytes are listed via ``os.walk``, which only sees LOCAL
        paths — this Catalog's contract is a local/NFS warehouse dir (see
        ``__init__``). On an object-store or HDFS warehouse the two file
        metrics report 0 (row count and null fractions stay correct); a
        cluster deployment would swap the listing for the Hadoop
        FileSystem API (``jvm.org.apache.hadoop.fs``).
        """
        import os as _os

        from pyspark.sql import functions as F

        df = self.read_table(name)
        path = self.table_path(name)
        n_files = n_bytes = 0
        for root, _dirs, files in _os.walk(path):
            for f in files:
                if f.endswith(".parquet"):
                    n_files += 1
                    n_bytes += _os.path.getsize(_os.path.join(root, f))
        aggs = [F.count(F.lit(1)).alias("n_rows")] + [
            F.sum(F.col(c).isNull().cast("long")).alias(f"__nn_{i}")
            for i, c in enumerate(df.columns)
        ]
        row = df.agg(*aggs).collect()[0]
        n_rows = row["n_rows"]
        out = [("n_rows", float(n_rows)), ("n_files", float(n_files)),
               ("n_bytes", float(n_bytes))]
        for i, c in enumerate(df.columns):
            frac = (row[f"__nn_{i}"] / n_rows) if n_rows else 0.0
            out.append((f"null_frac:{c}", round(frac, 6)))
        return self.spark.createDataFrame(out, "metric string, value double")

    def drop_table(self, name: str) -> bool:
        """DROP TABLE IF EXISTS semantics; returns whether anything was dropped."""
        path = self.table_path(name)
        if os.path.isdir(path):
            shutil.rmtree(path)
            return True
        return False

    def list_tables(self) -> list[str]:
        if not os.path.isdir(self.warehouse):
            return []
        return sorted(
            e for e in os.listdir(self.warehouse) if os.path.isdir(self.table_path(e))
        )

    def register_views(self, names: Optional[Iterable[str]] = None) -> None:
        """Expose managed tables to Spark SQL as temp views."""
        for name in names if names is not None else self.list_tables():
            if self.table_exists(name):
                self.read_table(name).createOrReplaceTempView(name.lstrip("_") or name)

    # -------------------------------------------------------------- provenance
    def store_action(self, resource: str, action: str) -> None:
        """Append one provenance event (reference: ``models.py:70-113``)."""
        row_df = self.spark.createDataFrame(
            [(resource, action)], schema="resource string, action string"
        ).withColumn("created", F.current_timestamp())
        row_df.coalesce(1).write.mode("append").parquet(self.table_path(ACTIONS_TABLE))

    def actions(self) -> DataFrame:
        """All provenance events, newest first (``Action.ls``, ``models.py:116-123``)."""
        if not self.table_exists(ACTIONS_TABLE):
            return self.spark.createDataFrame([], ACTION_SCHEMA)
        return self.read_table(ACTIONS_TABLE).orderBy(F.desc("created"))

    def count_actions(self) -> int:
        """``Action.count`` (``models.py:125-133``)."""
        if not self.table_exists(ACTIONS_TABLE):
            return 0
        return self.read_table(ACTIONS_TABLE).count()

    def latest_actions(self) -> DataFrame:
        """Latest event per resource — the ``order_by(desc).first()`` docstring
        pattern (``models.py:16``) as a single window plan (SURVEY §2.6 O1)."""
        w = Window.partitionBy("resource").orderBy(F.desc("created"))
        return (
            self.actions()
            .withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
        )
