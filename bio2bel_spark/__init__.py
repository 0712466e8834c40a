"""bio2bel_spark — a PySpark-native biological data-integration & analytics engine.

A ground-up rebuild of the capabilities of bio2bel/bio2bel (ETL + metadata
management + pathway/graph query surface) on Apache Spark: every pandas
``Series.map``, SQLAlchemy query, and Python-loop graph build in the reference
is re-expressed as a declarative DataFrame/SQL plan so Catalyst/Tungsten pick
the physical strategy and the same code scales from local[32] to a
1000-executor cluster.

Layout (see SURVEY.md §7.1):

- :mod:`bio2bel_spark.session` — SparkSession factory + warehouse config
- :mod:`bio2bel_spark.catalog` — dataset registry + Action provenance log
- :mod:`bio2bel_spark.dataset` — Dataset base contract (populate/summarize/drop)
- :mod:`bio2bel_spark.ingest` — cached download + CSV/TSV/zip/JSON/OBO readers
- :mod:`bio2bel_spark.functions` — column-level transforms (CURIE parsing, HOF
  extractors, hashing, formatting)
- :mod:`bio2bel_spark.operators` — query surface: pathways (ComPath), graph
  (BEL nodes/edges), namespace
- :mod:`bio2bel_spark.sources` — per-source DataFrame pipelines (intact,
  biogrid, tfregulons, hmdd, go, rhea, pid)
- :mod:`bio2bel_spark.io` — sinks (triples TSV, edge lists, namespace files)
"""

__version__ = "0.1.0"

from bio2bel_spark.session import get_spark  # noqa: F401
