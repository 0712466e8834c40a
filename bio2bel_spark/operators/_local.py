"""The one size gate between the driver tier and the Spark tier.

An operator whose input fits :data:`DRIVER_ROWS` rows computes its answer
in driver memory, where a few Python loops cost less than the job launches
of a distributed loop; a larger input keeps the Spark plan. Every operator
with a driver tier asks :func:`collect_if_small` and builds its result with
:func:`local_frame`, so there is one threshold and one way to cross it.

``Catalog.read_table`` is the gate's one other user: a flat table whose
parquet footers count at most :data:`DRIVER_ROWS` values (rows times leaf
columns, since the read converts every value) and :data:`DRIVER_BYTES`
uncompressed bytes, and whose decoded table also fits :data:`DRIVER_BYTES`,
is read on the driver into a local relation. Both globals are read at call
time, so setting :data:`DRIVER_ROWS` moves the operators and the catalog
reads together.
"""

from __future__ import annotations

from typing import Optional

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType

# at this many rows a collect is a few MB: latency, not data, dominates
DRIVER_ROWS = 100_000
# a table read on the driver must also fit this many bytes, both in its
# footers' uncompressed row groups and as the decoded arrow table, so a few
# wide rows cannot fill driver memory. It stays under Spark's arrow
# ``localRelationThreshold`` (48 MiB by default): past that,
# ``createDataFrame`` ships the rows as an RDD and every action is a job.
DRIVER_BYTES = 16 << 20


def collect_if_small(df: DataFrame) -> Optional[list]:
    """All rows of ``df`` when there are at most :data:`DRIVER_ROWS`, else
    ``None``. The gate is read at call time, so setting the module global
    moves it for every operator at once.

    ONE bounded action decides the tier AND feeds the driver tier: a
    ``limit(DRIVER_ROWS + 1)`` collect is complete when the result fits,
    and the sentinel row proves overflow without counting the full input.
    In the driver tier this probe is the only execution of the upstream
    pipeline. In the Spark tier it is one more: ``executeTake`` stops
    early only on the final stage, so upstream shuffle and join stages run
    in full in the probe and again when the caller pins the input — at
    scale, about twice the upstream cost, accepted for not pinning a small
    input first.
    """
    n = DRIVER_ROWS
    rows = df.limit(n + 1).collect()
    return rows if len(rows) <= n else None


def local_frame(spark: SparkSession, rows: list, schema: StructType) -> DataFrame:
    """``rows`` (tuples in ``schema``'s column order) as a DataFrame over a
    ``LocalRelation``: built from a pyarrow table, so reading it back runs
    no Spark job (a plain-list ``createDataFrame`` builds an RDD and runs
    one)."""
    arrow_schema = to_arrow_schema(schema)
    table = pa.table(
        [[r[i] for r in rows] for i in range(len(schema))], schema=arrow_schema
    )
    return spark.createDataFrame(table, schema)
