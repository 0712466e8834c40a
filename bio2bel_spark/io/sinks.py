"""Distributed file sinks for graph/ML interchange.

* triples TSV (S16): ``edges.select(h, r, t)`` → tab-separated files
  (reference ``io/automate.py:30-46``, loader ``io/pykeen.py:39-50``);
* node list + integer edge list (S15): ``bel_manager.py:145-161``;
* nodelink-style JSON (S17): ``io/automate.py:49-69`` — parquet is the cache
  format here, JSON the interchange format.

All writes are executor-side (``df.write``); ``single_file=True`` coalesces
to one file for tool compatibility at export scale (never use it for
fact-table-sized data).
"""

from __future__ import annotations

import glob
import os
import shutil

from pyspark.sql import DataFrame


def _finalize_single(tmp_dir: str, target: str, suffix: str) -> None:
    part = glob.glob(os.path.join(tmp_dir, f"part-*{suffix}"))[0]
    shutil.move(part, target)
    shutil.rmtree(tmp_dir)


def write_tsv(df: DataFrame, path: str, single_file: bool = False, header: bool = False) -> None:
    """Tab-separated sink (triples, gene-set exports — F12/S16)."""
    if single_file:
        df = df.coalesce(1)
    writer = (
        df.write.mode("overwrite")
        .option("sep", "\t")
        .option("header", str(header).lower())
    )
    if single_file:
        tmp = path + ".tmp"
        writer.csv(tmp)
        _finalize_single(tmp, path, ".csv")
    else:
        writer.csv(path)


def write_triples_tsv(edges_hrt: DataFrame, path: str, single_file: bool = True) -> None:
    """PyKEEN-style (h, r, t) TSV."""
    write_tsv(edges_hrt.select("h", "r", "t"), path, single_file=single_file)


def write_json(df: DataFrame, path: str, single_file: bool = False) -> None:
    """JSON-lines sink (graph interchange, S17)."""
    if single_file:
        tmp = path + ".tmp"
        df.coalesce(1).write.mode("overwrite").json(tmp)
        _finalize_single(tmp, path, ".json")
    else:
        df.write.mode("overwrite").json(path)


def write_xlsx(df: DataFrame, path: str, sheet_name: str = "Sheet1") -> None:
    """Excel sink for SMALL exports (S10 — reference
    ``src/bio2bel/compath/utils.py:18-31`` ``to_excel``).

    Driver-side pandas conversion: Excel is a human-report format, never a
    data-scale sink, so ``toPandas`` is the right tool. Gated on openpyxl so
    environments without it get a clear error at call time, not import time.
    """
    try:
        import openpyxl  # noqa: F401
    except ImportError as e:  # pragma: no cover - depends on environment
        raise ImportError(
            "write_xlsx needs the optional 'openpyxl' package; install it or "
            "use write_tsv/write_json instead"
        ) from e
    df.toPandas().to_excel(path, index=False, sheet_name=sheet_name)
