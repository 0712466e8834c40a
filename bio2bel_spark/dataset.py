"""Dataset base contract: the Spark-native ``AbstractManager``.

Re-expresses the reference's manager stack
(``/root/reference/src/bio2bel/manager/abstract_manager.py``,
``connection_manager.py``) as a single base class over the parquet catalog:

* class-contract checks (``module_name`` present + lowercase,
  ``connection_manager.py:70-77``; declared tables,
  ``abstract_manager.py:
  namespace of models) run at subclass-definition time via
  ``__init_subclass__`` — replacing the metaclass;
* ``populate`` is wrapped so success appends a ``populate`` provenance row and
  failure appends ``populate_failed`` then re-raises — the metaclass hook at
  ``abstract_manager.py:28-50`` as a plain template method;
* ``is_populated`` (``abstract_manager.py:215-217``), ``summarize``
  (``:223-225``), ``drop_all`` (``:240-247``), ``count`` (``:257-262``) map to
  catalog/table operations;
* the namespace-style incremental upsert (``namespace_manager.py:262-296``)
  becomes a left-anti-join append, one distributed plan instead of a
  driver-side id-set scan;
* row counts (``count_table``, ``summarize``) come from parquet footers, so
  this bookkeeping starts no Spark job.
"""

from __future__ import annotations

import os
from abc import abstractmethod
from typing import Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bio2bel_spark.catalog import (
    ACTION_DROP,
    ACTION_POPULATE,
    ACTION_POPULATE_FAILED,
    Catalog,
    footer_rows,
)
from bio2bel_spark.exc import Bio2BELMissingNameError, Bio2BELModuleCaseError

#: Global registry of Dataset subclasses — the Spark analog of the setuptools
#: entry-point plugin scan (``/root/reference/src/bio2bel/utils.py:146-167``).
_REGISTRY: dict[str, type["Dataset"]] = {}


def get_dataset_classes() -> dict[str, type["Dataset"]]:
    """Registered Dataset classes by module name
    (≈ ``get_bio2bel_manager_classes``, ``abstract_manager.py:396-398``)."""
    return dict(_REGISTRY)


def ensure_dataset(name: str) -> type["Dataset"]:
    """Resolve a registered dataset by name, mirroring the lookup half of
    ``ensure_bio2bel_installation`` (``io/automate.py:72-101``). The
    reference's pip-install fallback (M5) is deliberately out of engine
    scope — package management belongs to the deployment layer."""
    try:
        return _REGISTRY[name]
    except KeyError:
        raise KeyError(
            f"dataset {name!r} is not registered; auto-installing source "
            f"packages is out of scope — import its module first "
            f"(registered: {sorted(_REGISTRY)})"
        ) from None


class Dataset:
    """Base class every source dataset extends.

    Subclasses declare ``module_name`` and a ``tables`` mapping of
    ``logical_name -> Spark DDL schema string``, and implement
    ``_populate_tables`` returning ``{logical_name: DataFrame}``.
    """

    #: lowercase, unique resource name (contract enforced at class creation)
    module_name: str = ""
    #: logical table name -> DDL schema ("col TYPE, ..."); None = unchecked
    tables: dict[str, Optional[str]] = {}
    #: tables partitioned on write: logical name -> partition columns
    partitioning: dict[str, list[str]] = {}

    def __init_subclass__(cls, abstract: bool = False, **kwargs):
        super().__init_subclass__(**kwargs)
        if abstract:
            return
        name = getattr(cls, "module_name", None)
        if not name or not isinstance(name, str):
            raise Bio2BELMissingNameError(
                f"{cls.__name__} must define a non-empty module_name"
            )
        if name != name.lower():
            raise Bio2BELModuleCaseError(
                f"module_name must be lowercase: {name!r}"
            )
        _REGISTRY[name] = cls

    def __init__(self, spark: SparkSession, warehouse: Optional[str] = None):
        self.spark = spark
        self.catalog = Catalog(spark, warehouse)

    # ------------------------------------------------------------------ naming
    def table_name(self, logical: str) -> str:
        """Physical name ``{module}_{table}`` (reference table-naming scheme at
        ``src/bio2bel/models.py:36-37`` / ``sources/pid.py:211-213``)."""
        return f"{self.module_name}_{logical}"

    def table(self, logical: str) -> DataFrame:
        return self.catalog.read_table(self.table_name(logical))

    # ---------------------------------------------------------------- populate
    @abstractmethod
    def _populate_tables(self, **kwargs) -> dict[str, DataFrame]:
        """Build the dataset's tables as DataFrames (pure transform, no I/O
        commitments — the base class writes and records provenance)."""
        raise NotImplementedError

    def populate(self, force: bool = False, **kwargs) -> None:
        """Template method replacing the provenance metaclass hook
        (``abstract_manager.py:28-50`` + ``:304-326`` populate guard)."""
        if self.is_populated() and not force:
            return
        try:
            produced = self._populate_tables(**kwargs)
            for logical, df in produced.items():
                schema = self.tables.get(logical)
                out = df
                if schema is not None:
                    # schema contract: select declared columns with casts, so a
                    # drifted upstream type fails loudly at write time
                    from pyspark.sql.types import _parse_datatype_string

                    declared = _parse_datatype_string(f"struct<{schema}>")
                    out = df.select(
                        *[F.col(f.name).cast(f.dataType).alias(f.name) for f in declared.fields]
                    )
                self.catalog.write_table(
                    out,
                    self.table_name(logical),
                    partition_by=self.partitioning.get(logical),
                )
        except Exception:
            self.catalog.store_action(self.module_name, ACTION_POPULATE_FAILED)
            raise
        else:
            self.catalog.store_action(self.module_name, ACTION_POPULATE)

    # ------------------------------------------------------------------- state
    def is_populated(self) -> bool:
        """``0 < count`` guard (``abstract_manager.py:215-217``) — here a cheap
        existence check on the catalog, no scan."""
        return all(
            self.catalog.table_exists(self.table_name(logical))
            for logical in self.tables
        )

    def count_table(self, logical: str) -> int:
        """``_count_model`` (``abstract_manager.py:257-262``): the sum of the
        table's parquet footer row counts, no Spark job; 0 for a table that
        was never written."""
        return footer_rows(self.catalog.data_files(self.table_name(logical)))

    def summarize(self) -> dict[str, int]:
        """Counts per table (``abstract_manager.py:223-225``), from footers
        like ``count_table``."""
        if not self.is_populated():
            return {logical: 0 for logical in self.tables}
        return {logical: self.count_table(logical) for logical in self.tables}

    def drop_all(self) -> None:
        """``drop_all`` + drop-provenance (``abstract_manager.py:240-247``)."""
        for logical in self.tables:
            self.catalog.drop_table(self.table_name(logical))
        self.catalog.store_action(self.module_name, ACTION_DROP)

    # ------------------------------------------------------------------ upsert
    def upsert(self, logical: str, new_df: DataFrame, key: str) -> int:
        """Insert-if-absent by key: the ``_update_namespace`` loop
        (``namespace_manager.py:262-296``) as one left-anti-join append.

        Returns the number of rows added, read from the footers of the files
        the append created (found by listing the table before and after it,
        so concurrent writers to the same table are not supported). The
        append is the only Spark job: no separate ``count()``. Spark writes
        a 0-row file when the anti-join is empty; such files are deleted, so
        a no-op upsert leaves the table's files as they were. At scale the
        join is a shuffle on ``key`` only for the *new* side when the
        existing side is large; for small deltas Catalyst broadcasts the
        delta automatically.
        """
        name = self.table_name(logical)
        partition_by = self.partitioning.get(logical)
        if not self.catalog.table_exists(name):
            self.catalog.write_table(new_df, name, partition_by=partition_by)
            return footer_rows(self.catalog.data_files(name))
        existing = self.catalog.read_table(name)
        # align column order with the stored table before appending
        to_add = new_df.join(existing.select(key), on=key, how="left_anti").select(
            *existing.columns
        )
        before = set(self.catalog.data_files(name))
        self.catalog.write_table(to_add, name, mode="append", partition_by=partition_by)
        added = 0
        for f in set(self.catalog.data_files(name)) - before:
            rows = footer_rows([f])
            added += rows
            if not rows:
                os.remove(f)
                crc = os.path.join(os.path.dirname(f), f".{os.path.basename(f)}.crc")
                if os.path.exists(crc):
                    os.remove(crc)
        return added
