"""Cache-or-build export automation (the in-scope half of M5).

The reference's ``io/automate.py`` does two things: (a) pip-install a
missing Bio2BEL package (``:72-101``) and (b) ensure-style cached artifact
builds — ``ensure_graph`` / ``ensure_tsv`` (``:30-71``) populate a source on
demand and cache its BEL-graph / triples-TSV export under the module's data
directory, returning the cached path untouched when it already exists.

Package management (a) stays out of engine scope (deployment layer —
:func:`bio2bel_spark.dataset.ensure_dataset` documents the boundary). The
cache-or-build surface (b) is what a user actually calls in a pipeline, and
it is fully reproduced here over the registry + catalog: resolve the
registered Dataset, populate if needed (with provenance, M3), export once,
and short-circuit on the cached artifact thereafter.
"""

from __future__ import annotations

import errno
import os
import shutil
import time
import uuid
from typing import Optional

from pyspark.sql import SparkSession

from bio2bel_spark.dataset import Dataset, ensure_dataset

__all__ = ["ensure_populated", "ensure_triples_tsv", "ensure_graph_json"]


def _tree_mtime(path: str) -> float:
    """Newest mtime anywhere in a scratch tree. A directory's OWN mtime
    only moves when direct children are created, so a live builder
    streaming data into ``tmp/nodes/part-*`` looks hours old from the
    top — the files inside are what prove the build is alive."""
    newest = os.path.getmtime(path)
    for root, _dirs, files in os.walk(path):
        for entry in files:
            try:
                newest = max(
                    newest, os.path.getmtime(os.path.join(root, entry))
                )
            except OSError:
                continue  # file vanished mid-walk (the build is live!)
    return newest


def _fresh_tmp(path: str) -> str:
    """UNIQUE scratch location next to ``path`` (same filesystem, so the
    final ``os.replace`` stays atomic) for write-then-rename publication.
    Uniqueness (pid + random suffix) is what makes concurrent builders
    safe: with a fixed ``path + '.tmp'`` two builders would share one
    scratch dir, each rmtree-ing/overwriting the other's in-progress
    write — the loser could fail mid-write, or a corrupted interleaved
    artifact could win the rename. With per-build scratch, the only
    contended step is the final atomic rename, which ``_publish``
    resolves as a cache hit.

    A crashed build's leftover scratch is inert (it never matches a later
    build's unique name) and is swept here once NOTHING in its tree has
    been touched for an hour — tree mtime, not top-level mtime, so a live
    builder streaming into a subdirectory is never mistaken for a crash.
    The pre-uniqueness fixed name (``path + '.tmp'``) is swept by the
    same rule so old crashes don't leak disk forever."""
    base = os.path.basename(path)
    parent = os.path.dirname(path) or "."
    for stale in os.listdir(parent):
        if not (
            stale.startswith(base + ".tmp.") or stale == base + ".tmp"
        ):
            continue
        cand = os.path.join(parent, stale)
        try:
            if os.path.isdir(cand):
                if time.time() - _tree_mtime(cand) < 3600:
                    continue
                shutil.rmtree(cand, ignore_errors=True)
            else:
                if time.time() - os.path.getmtime(cand) < 3600:
                    continue
                os.remove(cand)
        except OSError:
            continue  # another sweeper won the race — fine
    return f"{path}.tmp.{os.getpid()}.{uuid.uuid4().hex[:8]}"


#: os.replace failures that mean "a concurrent builder already published
#: a valid artifact at the destination" — the only errors _publish may
#: swallow. ENOTEMPTY/EEXIST: directory rename onto a non-empty
#: directory; ENOTDIR: file-vs-directory shape collision on the path.
_RACE_ERRNOS = frozenset(
    {errno.ENOTEMPTY, errno.EEXIST, errno.ENOTDIR}
)


def _publish(tmp: str, path: str) -> None:
    """Atomically publish ``tmp`` as ``path``. A concurrent builder (or a
    leftover artifact) may have created ``path`` between the exists-check
    and this rename — ``os.replace`` of a directory onto a non-empty
    directory raises (ENOTEMPTY on POSIX). Losing that race is a cache
    HIT, not an error: the other build's artifact is equally valid, so
    discard ours and serve theirs. ONLY the directory-collision errnos
    are treated that way — an EACCES/EXDEV/EIO with a stale artifact
    already at ``path`` is a real failure and must not be masked as a
    cache hit, so everything else re-raises."""
    try:
        os.replace(tmp, path)
    except OSError as exc:
        if exc.errno not in _RACE_ERRNOS or not os.path.exists(path):
            raise
        if os.path.isdir(tmp):
            shutil.rmtree(tmp, ignore_errors=True)
        elif os.path.exists(tmp):
            os.remove(tmp)


def _instantiate(cls, spark, warehouse, input_paths=None):
    """A registered Dataset class bound to a warehouse; a source dataset
    also gets its ``{name: path}`` raw inputs."""
    from bio2bel_spark.sources.datasets import SourceDataset

    if issubclass(cls, SourceDataset):
        return cls(spark, warehouse, input_paths=input_paths or {})
    return cls(spark, warehouse)


def ensure_populated(
    name: str,
    spark: SparkSession,
    warehouse: Optional[str] = None,
    input_paths: Optional[dict] = None,
    **populate_kwargs,
) -> Dataset:
    """Resolve a registered dataset and populate it if (and only if) its
    tables are missing — the ``ensure_graph`` entry discipline
    (``reference io/automate.py:61-66``: instantiate manager → build) with
    the reference's skip-if-populated contract from ``cli populate``.
    Returns the live Dataset, ready for ``.table(...)`` queries."""
    cls = ensure_dataset(name)
    ds = _instantiate(cls, spark, warehouse, input_paths)
    if not ds.is_populated():
        ds.populate(**populate_kwargs)
    return ds


def _export_dir(ds: Dataset) -> str:
    d = os.path.join(ds.catalog.warehouse, "_exports", ds.module_name)
    os.makedirs(d, exist_ok=True)
    return d


def ensure_triples_tsv(
    name: str,
    spark: SparkSession,
    warehouse: Optional[str] = None,
    input_paths: Optional[dict] = None,
    edges_table: str = "edges",
    **populate_kwargs,
) -> str:
    """Cache-or-build the ``(h, r, t)`` triples TSV for a source — the
    ``ensure_tsv`` twin (``reference io/automate.py:30-47``): the source
    is populated on demand (:func:`ensure_populated`); if the cached file
    exists its path returns with no Spark job, otherwise the edge table
    exports once through the knowledge-graph triples sink."""
    from bio2bel_spark.io.sinks import write_triples_tsv
    from bio2bel_spark.operators.graph import KnowledgeGraph

    ds = ensure_populated(name, spark, warehouse, input_paths, **populate_kwargs)
    path = os.path.join(_export_dir(ds), f"{name}.bel.tsv")
    if os.path.exists(path):
        return path
    kg = KnowledgeGraph(None, ds.table(edges_table))
    # write-then-rename: a crash mid-export can never leave a partial file
    # that a later call would serve as a valid cache hit
    tmp = _fresh_tmp(path)
    write_triples_tsv(kg.triples(), tmp)
    _publish(tmp, path)
    return path


def ensure_graph_json(
    name: str,
    spark: SparkSession,
    warehouse: Optional[str] = None,
    input_paths: Optional[dict] = None,
    edges_table: str = "edges",
    **populate_kwargs,
) -> str:
    """Cache-or-build the node-link-style graph JSON for a source — the
    ``ensure_graph`` twin (``reference io/automate.py:49-71``), with the
    nodes induced from the edge endpoints (the multigraph convention) and
    the edges written qualified. Like :func:`ensure_triples_tsv` it
    populates on demand and serves a cached export with no Spark job.
    Returns the cached directory path."""
    from bio2bel_spark.io.sinks import write_json
    from bio2bel_spark.operators.graph import KnowledgeGraph

    ds = ensure_populated(name, spark, warehouse, input_paths, **populate_kwargs)
    path = os.path.join(_export_dir(ds), f"{name}.graph.json")
    if os.path.exists(path):
        return path
    kg = KnowledgeGraph(None, ds.table(edges_table))
    kg.nodes = kg.induced_nodes()
    # build in a scratch dir and rename into place: a crash between the
    # nodes and edges writes can never publish a half-export as a cache hit
    tmp = _fresh_tmp(path)
    write_json(kg.nodes, os.path.join(tmp, "nodes"))
    write_json(kg.edges, os.path.join(tmp, "edges"))
    # completeness gate: if a sweeper raced us and removed part of the
    # scratch between the two writes (a build stalled >1h mid-export),
    # publishing would pin a permanent half-artifact — fail loudly instead
    for part in ("nodes", "edges"):
        if not os.path.isdir(os.path.join(tmp, part)):
            raise RuntimeError(
                f"graph export scratch lost its {part!r} half before "
                "publication (stalled >1h mid-export and swept?); rerun"
            )
    _publish(tmp, path)
    return path
