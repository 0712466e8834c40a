"""Cache-or-build export automation (the in-scope half of M5)."""

from __future__ import annotations

import os

import pytest

from bio2bel_spark.io.automate import (
    ensure_graph_json,
    ensure_populated,
    ensure_triples_tsv,
)


@pytest.fixture()
def tf_inputs(tmp_path):
    raw = tmp_path / "raw.tsv"
    raw.write_text(
        "tf_hgnc_symbol\ttarget_hgnc_symbol\teffect\tscore\tpmids\n"
        "TP53\tMDM2\t1\tA\t111\n"
        "TP53\tBCL2\t-1\tB\t333\n"
    )
    hgnc = tmp_path / "hgnc.tsv"
    hgnc.write_text(
        "hgnc_symbol\thgnc_id\nTP53\t11998\nMDM2\t6973\nBCL2\t990\n"
    )
    return {"raw": str(raw), "hgnc_map": str(hgnc)}


def test_ensure_populated_idempotent(spark, tmp_path, tf_inputs):
    import bio2bel_spark.sources.datasets  # noqa: F401 — registers sources

    wh = str(tmp_path / "wh")
    ds = ensure_populated("tfregulons", spark, warehouse=wh,
                          input_paths=tf_inputs)
    assert ds.is_populated()
    n = ds.table("edges").count()
    assert n >= 1
    # second call: no re-population (populate would append a provenance row)
    before = ds.catalog.count_actions()
    ds2 = ensure_populated("tfregulons", spark, warehouse=wh,
                           input_paths=tf_inputs)
    assert ds2.catalog.count_actions() == before
    # unknown names keep the documented M5 boundary error
    with pytest.raises(KeyError, match="out of scope"):
        ensure_populated("not_a_module", spark, warehouse=wh)


def test_ensure_triples_tsv_cache_or_build(spark, tmp_path, tf_inputs):
    import bio2bel_spark.sources.datasets  # noqa: F401

    wh = str(tmp_path / "wh")
    path = ensure_triples_tsv("tfregulons", spark, warehouse=wh,
                              input_paths=tf_inputs)
    assert os.path.exists(path)
    first = open(path).read()
    assert first.count("\n") >= 1  # h\tr\tt rows
    mtime = os.path.getmtime(path)
    # cached: the second call returns the same path with no rebuild
    again = ensure_triples_tsv("tfregulons", spark, warehouse=wh,
                               input_paths=tf_inputs)
    assert again == path and os.path.getmtime(path) == mtime
    # the export directory sits in the warehouse but is not a table
    ds = ensure_populated("tfregulons", spark, warehouse=wh)
    tables = ds.catalog.list_tables()
    assert {ds.table_name(t) for t in ds.tables} | {"_actions"} <= set(tables)
    assert os.path.isdir(os.path.join(wh, "_exports"))
    assert "_exports" not in tables


def test_ensure_graph_json_cache_or_build(spark, tmp_path, tf_inputs):
    import bio2bel_spark.sources.datasets  # noqa: F401

    wh = str(tmp_path / "wh")
    path = ensure_graph_json("tfregulons", spark, warehouse=wh,
                             input_paths=tf_inputs)
    assert os.path.isdir(path)
    assert os.path.isdir(os.path.join(path, "nodes"))
    assert os.path.isdir(os.path.join(path, "edges"))
    assert ensure_graph_json("tfregulons", spark, warehouse=wh,
                             input_paths=tf_inputs) == path


def test_ensure_exports_publish_atomically(spark, tmp_path, tf_inputs):
    """Write-then-rename publication with PER-BUILD unique scratch: a
    crashed build's old scratch is swept (it can never be served — its
    name never matches a later build's), a YOUNG scratch dir (a live
    concurrent builder's) is left untouched, and after success the
    build's own scratch is renamed away and the artifact is complete."""
    import glob

    import bio2bel_spark.sources.datasets  # noqa: F401

    wh = str(tmp_path / "wh")
    # simulate a crash that left graph scratch behind (nodes only, no
    # edges) — old enough to be swept
    exports = os.path.join(wh, "_exports", "tfregulons")
    crashed = os.path.join(exports, "tfregulons.graph.json.tmp.99.dead")
    os.makedirs(os.path.join(crashed, "nodes"))
    os.utime(crashed, (0, 0))
    # a FRESH scratch dir = a live concurrent builder; must survive
    live = os.path.join(exports, "tfregulons.graph.json.tmp.98.live")
    os.makedirs(live)
    path = ensure_graph_json("tfregulons", spark, warehouse=wh,
                             input_paths=tf_inputs)
    assert os.path.isdir(os.path.join(path, "nodes"))
    assert os.path.isdir(os.path.join(path, "edges"))
    assert not os.path.exists(crashed)  # stale scratch swept
    assert os.path.isdir(live)  # live builder's scratch untouched
    leftover = glob.glob(path + ".tmp.*")
    assert leftover == [live]  # our own scratch renamed away
    # same for the TSV: a stale crashed scratch FILE is swept too
    stale_tsv = os.path.join(exports, "tfregulons.bel.tsv.tmp.97.dead")
    open(stale_tsv, "w").write("junk")
    os.utime(stale_tsv, (0, 0))
    tsv = ensure_triples_tsv("tfregulons", spark, warehouse=wh,
                             input_paths=tf_inputs)
    assert open(tsv).read().count("\t") >= 2
    assert not os.path.exists(stale_tsv)
    assert glob.glob(tsv + ".tmp.*") == []


def test_publish_race_is_cache_hit_but_real_errors_raise(tmp_path):
    """_publish: losing the directory-rename race to a concurrent builder
    serves the winner's artifact; any OTHER OSError (EACCES, EIO, ...)
    must re-raise even when a stale artifact sits at the destination —
    masking it as a cache hit would hide a real failure."""
    import errno
    from unittest import mock

    from bio2bel_spark.io.automate import _publish

    dest = tmp_path / "artifact"
    dest.mkdir()
    (dest / "winner").write_text("x")
    tmp = tmp_path / "artifact.tmp.1.aaaa"
    tmp.mkdir()
    (tmp / "loser").write_text("y")
    # ENOTEMPTY (the real race shape): swallowed, winner served, tmp gone
    _publish(str(tmp), str(dest))
    assert (dest / "winner").exists() and not tmp.exists()
    # EACCES with the artifact present: must raise, not fake a cache hit
    tmp.mkdir()
    with mock.patch(
        "os.replace", side_effect=OSError(errno.EACCES, "denied")
    ):
        with pytest.raises(OSError, match="denied"):
            _publish(str(tmp), str(dest))
    assert tmp.exists()  # fresh build preserved for diagnosis


def test_sweep_uses_tree_mtime_not_top_level(tmp_path):
    """A live builder streaming into a SUBDIRECTORY keeps only inner-file
    mtimes fresh (the top dir's mtime never moves after the subdir is
    created) — the sweeper must read the tree, not the root, or it
    rmtree's an in-progress build (round-10 review finding)."""
    import os
    import time

    from bio2bel_spark.io.automate import _fresh_tmp

    artifact = tmp_path / "x.graph.json"
    live = tmp_path / "x.graph.json.tmp.77.live"
    (live / "nodes").mkdir(parents=True)
    inner = live / "nodes" / "part-0.json"
    inner.write_text("data")
    # age every DIRECTORY mtime past the grace window; the inner FILE
    # stays fresh = the build is alive
    old = time.time() - 7200
    os.utime(live, (old, old))
    os.utime(live / "nodes", (old, old))
    _fresh_tmp(str(artifact))
    assert live.is_dir() and inner.exists()
    # and once the inner file goes stale too, the same scratch is swept
    os.utime(inner, (old, old))
    os.utime(live, (old, old))
    os.utime(live / "nodes", (old, old))
    _fresh_tmp(str(artifact))
    assert not live.exists()


def test_sweep_cleans_legacy_fixed_name_scratch(tmp_path):
    """Scratch left by the pre-uniqueness scheme (exactly path + '.tmp')
    is swept by the same staleness rule — old crashes must not leak disk
    forever."""
    import os
    import time

    from bio2bel_spark.io.automate import _fresh_tmp

    artifact = tmp_path / "y.bel.tsv"
    legacy = tmp_path / "y.bel.tsv.tmp"
    legacy.write_text("junk")
    old = time.time() - 7200
    os.utime(legacy, (old, old))
    _fresh_tmp(str(artifact))
    assert not legacy.exists()
