"""Lakehouse-style catalog: parquet-backed managed tables + provenance log.

Replaces the reference's SQLAlchemy engine/metadata layer:

* table DDL (``create_all``/``drop_all``,
  ``/root/reference/src/bio2bel/manager/abstract_manager.py:232-247``) becomes
  parquet directory management under a warehouse root;
* the append-only ``Action`` provenance table
  (``/root/reference/src/bio2bel/models.py:40-133``) becomes an append-mode
  parquet table with the same ``(resource, action, created)`` shape, one
  small file per event appended from the driver with pyarrow (no Spark job);
* ``Action.ls`` ordering and "latest action per resource" (docstring pattern at
  ``models.py:16``) become ``orderBy(desc)`` and a ``row_number`` window;
* ``Action.count`` and per-table row counts are read from the parquet
  footers of the table's data files (no Spark job);
* a lookup on a small table is answered like a SQL point query: a flat
  table under the operators' shared size gate
  (:mod:`bio2bel_spark.operators._local`) is read with pyarrow into a local
  relation, so filters, projections and limits over it start no Spark job.

Scale notes
-----------
Tables are plain parquet directories: writes are distributed, reads get
predicate pushdown + column pruning for free. Partition columns can be
supplied per table (e.g. partition a 100 TB edges table by source prefix).
The warehouse is a local or NFS directory: ``__init__`` creates it with
``os.makedirs``, and provenance appends, footer row counts and
``table_stats``/``compact_table`` list it with ``os``. An HDFS/S3 warehouse
would need those listings and the event append moved to the Hadoop
FileSystem API. The provenance table is tiny and append-only; one small
file per event is fine at any scale (compaction is a maintenance job, not a
correctness concern).
"""

from __future__ import annotations

import json
import os
import shutil
import uuid
from datetime import datetime, timezone
from typing import Iterable, Optional

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import from_arrow_schema, to_arrow_schema

from bio2bel_spark.operators import _local

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

#: ``ACTION_SCHEMA`` as written by ``store_action``. ``created`` must be
#: UTC-adjusted: a naive arrow timestamp reads back in Spark as
#: ``timestamp_ntz``, while this one reads back as ``timestamp``, like the
#: INT96 events older logs hold.
_ACTION_ARROW_SCHEMA = pa.schema(
    [
        pa.field("resource", pa.string(), False),
        pa.field("action", pa.string(), False),
        pa.field("created", pa.timestamp("us", tz="UTC"), False),
    ]
)


def _hidden(name: str) -> bool:
    """Spark's file-index rule: names starting with ``.`` (checksums,
    staging files) or ``_`` (``_SUCCESS``, ``_temporary``) are not data,
    except ``_``-names holding ``=``, which are partition directories."""
    return name.startswith(".") or (name.startswith("_") and "=" not in name)


def footer_rows(files: Iterable[str]) -> int:
    """Total row count of parquet files, read from their footers."""
    return sum(pq.read_metadata(f).num_rows for f in files)


#: footer key under which Spark stores its own schema of the rows; Spark's
#: parquet reader prefers it to the file's parquet schema
_SPARK_SCHEMA_KEY = b"org.apache.spark.sql.parquet.row.metadata"


def _nullable(dt: T.DataType) -> T.DataType:
    """``dt`` with every field, element and map value nullable, as Spark's
    parquet reader reports a schema."""
    if isinstance(dt, T.StructType):
        return T.StructType(
            [T.StructField(f.name, _nullable(f.dataType), True, f.metadata)
             for f in dt.fields]
        )
    if isinstance(dt, T.ArrayType):
        return T.ArrayType(_nullable(dt.elementType), True)
    if isinstance(dt, T.MapType):
        return T.MapType(_nullable(dt.keyType), _nullable(dt.valueType), True)
    return dt


def _spark_schema(pf: pq.ParquetFile) -> T.StructType:
    """The schema Spark's parquet reader reports for one file: the Spark
    schema in its footer when Spark wrote it, else the arrow schema's Spark
    form (a naive timestamp is ``timestamp_ntz``, as Spark infers it)."""
    stored = (pf.metadata.metadata or {}).get(_SPARK_SCHEMA_KEY)
    if stored is not None:
        schema = T.StructType.fromJson(json.loads(stored))
    else:
        schema = from_arrow_schema(pf.schema_arrow, prefer_timestamp_ntz=True)
    return _nullable(schema)


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
        """The table as a DataFrame, in one of two tiers behind the shared
        size gate (:mod:`bio2bel_spark.operators._local`).

        * **Driver tier:** a flat table (every data file directly under its
          directory) whose footers count at most ``DRIVER_ROWS`` values
          (rows times leaf columns) and ``DRIVER_BYTES`` uncompressed
          bytes, and whose decoded arrow table also fits ``DRIVER_BYTES``,
          is read with pyarrow into a local relation. Catalyst folds
          filters, projections and limits over it, so a point lookup or a
          search on it starts no Spark job.
        * **Spark tier:** a partitioned table (partition pruning stays a
          scan-time filter), a table over the gate, a table with no data
          files, or one whose files disagree on the schema is a parquet
          scan, as Spark plans it.

        Either way the frame is a snapshot: it holds the rows the table had
        when it was read, and a later write to the table does not show in
        it (a parquet scan lists its files once, when it is created).
        """
        local = self._read_small(name)
        return local if local is not None else self.spark.read.parquet(self.table_path(name))

    def _read_small(self, name: str) -> Optional[DataFrame]:
        """``read_table``'s driver tier, or ``None`` when the table is not
        for it. Each file is read on its own: Spark-written INT96 and
        driver-written UTC timestamps do not concatenate until both are cast
        to the shared schema."""
        path = self.table_path(name)
        files = self.data_files(name)
        if not files or any(os.path.dirname(f) != path for f in files):
            return None
        metas, values, nbytes = [], 0, 0
        for f in files:
            meta = pq.read_metadata(f)
            # a local relation converts every value on each read: at about
            # 160k-190k values (40k rows of 4 columns, 16k of 12) a lookup,
            # a join or a limited read cost as much as the parquet scan
            values += meta.num_rows * meta.num_columns
            nbytes += sum(meta.row_group(i).total_byte_size for i in range(meta.num_row_groups))
            # stop at the first footer past the gate: the table goes to Spark
            if values > _local.DRIVER_ROWS or nbytes > _local.DRIVER_BYTES:
                return None
            metas.append(meta)
        schema, parts = None, []
        for f, meta in zip(files, metas):
            with pq.ParquetFile(f, metadata=meta, coerce_int96_timestamp_unit="us") as pf:
                file_schema = _spark_schema(pf)
                if schema is None:
                    schema, arrow_schema = file_schema, to_arrow_schema(file_schema)
                elif file_schema != schema:
                    return None
                # INT96 reads as a naive timestamp; its values are UTC instants
                parts.append(pf.read().cast(arrow_schema))
        # one chunk: createDataFrame dropped the rows of a table whose
        # leading chunks were empty (Spark's 0-row part files sort first)
        table = pa.concat_tables(parts).combine_chunks()
        # parquet encodings (dictionary, RLE) can make the decoded table
        # much larger than its footers' byte count
        if table.nbytes > _local.DRIVER_BYTES:
            return None
        return self.spark.createDataFrame(table, schema)

    def data_files(self, name: str) -> list[str]:
        """Paths of the files a Spark read of the table scans, sorted; empty
        for a missing table. Hidden names (see ``_hidden``) are skipped at
        any depth, so a crashed write's ``_temporary/`` files and
        in-progress provenance events are not listed."""
        out = []
        for dp, dirs, files in os.walk(self.table_path(name)):
            dirs[:] = [d for d in dirs if not _hidden(d)]
            out.extend(os.path.join(dp, f) for f in files if not _hidden(f))
        return sorted(out)

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
        there's something to gain (``min_files``). The new files are
        staged under a hidden name while the old ones stay in place; the
        old directory is then renamed aside, the staging one renamed in,
        and only then the old one deleted. If the swap fails the old
        directory is renamed back, so a failure never leaves the table
        missing or truncated. Content is preserved exactly; file-internal
        row order may change (same contract as any OPTIMIZE)."""
        import math

        path = self.table_path(name)
        files = self.data_files(name)
        # a hive-partitioned layout (key=value dirs) must not be flattened:
        # rewriting it as plain files silently destroys partition pruning
        # for every downstream scan — refuse loudly; compact per-partition
        if any(os.path.dirname(f) != path for f in files):
            raise ValueError(
                f"compact_table: {name!r} is hive-partitioned; a flat "
                "rewrite would drop the partition layout (and partition "
                "pruning with it). Compact each partition directory as "
                "its own table instead."
            )
        if len(files) < min_files:
            return len(files)
        total_bytes = sum(os.path.getsize(f) for f in files)
        n_out = max(1, math.ceil(total_bytes / (target_file_mb * (1 << 20))))
        if n_out >= len(files):
            return len(files)
        staging = self.table_path(f".{name}.__compacting__")
        aside = self.table_path(f".{name}.__replaced__")
        self.read_table(name).repartition(n_out).write.mode(
            "overwrite"
        ).parquet(staging)
        os.rename(path, aside)
        try:
            os.rename(staging, path)
        except OSError:
            os.rename(aside, path)
            shutil.rmtree(staging, ignore_errors=True)
            raise
        shutil.rmtree(aside)
        self.store_action(name, "compact")
        return len(self.data_files(name))

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

        File count/bytes cover the files a Spark read scans
        (``data_files``), listed with ``os.walk`` — this Catalog's contract
        is a local/NFS warehouse dir (see ``__init__``). On an object-store
        or HDFS warehouse the two file metrics report 0 (row count and null
        fractions stay correct); a cluster deployment would swap the listing
        for the Hadoop FileSystem API (``jvm.org.apache.hadoop.fs``).
        """
        df = self.read_table(name)
        files = self.data_files(name)
        n_files, n_bytes = len(files), sum(os.path.getsize(f) for f in files)
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
        """Names of the warehouse's tables: directories that pass
        ``table_exists`` (so not ``_exports/`` or other scratch)."""
        if not os.path.isdir(self.warehouse):
            return []
        return sorted(e for e in os.listdir(self.warehouse) if self.table_exists(e))

    def register_views(self, names: Optional[Iterable[str]] = None) -> None:
        """Expose managed tables to Spark SQL as temp views."""
        for name in names if names is not None else self.list_tables():
            if self.table_exists(name):
                self.read_table(name).createOrReplaceTempView(name.lstrip("_") or name)

    # -------------------------------------------------------------- provenance
    def store_action(self, resource: str, action: str) -> None:
        """Append one provenance event (reference: ``models.py:70-113``).

        The one-row file is written from the driver under a hidden staging
        name, then renamed into place, so Spark reads and ``table_exists``
        never see a half-written event."""
        path = self.table_path(ACTIONS_TABLE)
        os.makedirs(path, exist_ok=True)
        event = pa.table(
            [[resource], [action], [datetime.now(timezone.utc)]],
            schema=_ACTION_ARROW_SCHEMA,
        )
        name = f"part-{uuid.uuid4().hex}.parquet"
        staging = os.path.join(path, f".{name}.inprogress")
        # column statistics of a one-row file prune nothing; without them
        # and the arrow schema an event is ~620 B (Spark's: ~1 KB + .crc)
        pq.write_table(event, staging, store_schema=False, write_statistics=False)
        os.rename(staging, os.path.join(path, name))

    def _action_log(self) -> DataFrame:
        """Every provenance event, in no particular order."""
        if not self.table_exists(ACTIONS_TABLE):
            return self.spark.createDataFrame([], ACTION_SCHEMA)
        return self.read_table(ACTIONS_TABLE)

    def actions(self) -> DataFrame:
        """All provenance events, newest first (``Action.ls``, ``models.py:116-123``)."""
        return self._action_log().orderBy(F.desc("created"))

    def count_actions(self) -> int:
        """``Action.count`` (``models.py:125-133``), from the events' footers."""
        return footer_rows(self.data_files(ACTIONS_TABLE))

    def latest_actions(self) -> DataFrame:
        """Latest event per resource — the ``order_by(desc).first()`` docstring
        pattern (``models.py:16``) as a single window plan (SURVEY §2.6 O1).
        The window's own order picks the latest event, so it reads the raw
        log: a sort under it would only add a range-sampling job."""
        w = Window.partitionBy("resource").orderBy(F.desc("created"))
        return (
            self._action_log()
            .withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
        )
