"""Spans around calls *between* the program's layers, for traced runs.

The workloads put spans around the calls they make themselves; the
program's own inner calls (a populate writing tables and recording
provenance, an export reading its source table, Rhea's populate running
SPARQL) are seen by wrapping these public entry points for the duration
of a traced run. Untraced runs install nothing.
"""

from __future__ import annotations

import os

from workloads import geneset_dataset_class, parquet_files, source_classes


def install(tracer) -> None:
    if not tracer.enabled:
        return
    from bio2bel_spark import sparql
    from bio2bel_spark.catalog import Catalog

    _wrap_write_table(tracer, Catalog)
    tracer.wrap(Catalog, "store_action", "catalog.store_action")
    tracer.wrap(Catalog, "read_table", "catalog.read_table",
                after=lambda _, args, kw: tracer.count(
                    "catalog.read_table_files",
                    len(parquet_files(args[0].table_path(args[1])))))
    tracer.wrap(sparql, "sparql_select", "sparql.plan")
    for cls in list(source_classes().values()) + [geneset_dataset_class()]:
        _wrap_sources(tracer, cls)


def _wrap_write_table(tracer, Catalog) -> None:
    """Span plus the parquet files and bytes each write adds."""
    def make(original):
        def write_table(self, df, name, *args, **kwargs):
            path = self.table_path(name)
            with tracer.bookkeeping():
                before = _listing(path)
            with tracer.span("catalog.write_table"):
                out = original(self, df, name, *args, **kwargs)
            with tracer.bookkeeping():
                new = {f: n for f, n in _listing(path).items() if f not in before}
                tracer.count("catalog.files_written", len(new))
                tracer.count("catalog.bytes_written", sum(new.values()))
            return out
        return write_table

    tracer.patch(Catalog, "write_table", make)


def _listing(path: str) -> dict:
    return {f: os.path.getsize(f) for f in parquet_files(path)} if os.path.isdir(path) else {}


def _wrap_sources(tracer, cls) -> None:
    """``_populate_tables`` is the Dataset -> source-pipeline boundary: its
    span is the plan, and each DataFrame it returns is then executed once
    into Spark's no-op sink, so the source transform's execution cost is
    measured apart from the parquet write that follows."""
    def make(original):
        def _populate_tables(self, **kwargs):
            with tracer.span("sources.plan"):
                produced = original(self, **kwargs)
            for df in produced.values():
                with tracer.span("sources.exec"):
                    df.write.format("noop").mode("overwrite").save()
            return produced
        return _populate_tables

    tracer.patch(cls, "_populate_tables", make)

