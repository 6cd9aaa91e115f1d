"""Expand (bulk ingest, `osmx expand` parity): source file -> table
layout -> the same dataset semantics as the fixture writer, for both
the XML and PBF sources."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from osmexpress_spark import testing
from osmexpress_spark.api import Dataset
from osmexpress_spark.operators import expand as expand_mod
from osmexpress_spark.sources import sink
from osmexpress_spark.spatial import Region, cells

WORLD = Region("-90,-180,90,180", "bbox")


@pytest.fixture(scope="module")
def source_pbf(spark, tmp_path_factory):
    """A real .osm.pbf written from the fixture dataset."""
    base = tmp_path_factory.mktemp("expand")
    ds_path = str(base / "src_ds")
    testing.write_fixture_dataset(spark, ds_path, n_nodes=400, seed=11)
    src = Dataset(spark, ds_path)
    res = src.extract(WORLD)
    out = str(base / "world.osm.pbf")
    sink.write_pbf(res, out, block_size=128, partitions=2)
    return src, out


@pytest.mark.slow
def test_expand_pbf_roundtrip(spark, tmp_path, source_pbf):
    src, pbf_path = source_pbf
    dest = str(tmp_path / "expanded")
    expand_mod.expand(spark, pbf_path, dest, partitions=2)
    got = Dataset(spark, dest)

    assert got.stats() == src.stats()
    # cell column re-derived correctly (G2 at write time)
    bad = got.locations().where(
        F.col("cell") != cells.cell_col(F.col("lon"), F.col("lat"))
    )
    assert bad.count() == 0
    # payload content survives: way node order + tags
    want = {r.id: (list(r.nodes), dict(r.tags)) for r in src.ways().collect()}
    have = {r.id: (list(r.nodes), dict(r.tags)) for r in got.ways().collect()}
    assert have == want
    # edge tables materialized and consistent with forward membership
    for name in ("node_way", "node_relation", "way_relation",
                 "relation_relation"):
        assert os.path.exists(os.path.join(dest, name, "_SUCCESS"))
    nw = got.edges("node_way")
    derived = (
        got.ways().select(F.explode("nodes").alias("node_id"),
                          F.col("id").alias("way_id"))
        .distinct()  # closed rings repeat node ids; the index dedups
    )
    assert nw.count() == derived.count()
    # an expanded dataset answers extracts like the original
    r = Region("40.5,-74.3,41.0,-73.7", "bbox")
    a = {x.id for x in src.extract(r).node_ids.collect()}
    b = {x.id for x in got.extract(r).node_ids.collect()}
    assert a == b


@pytest.mark.slow
def test_expand_untagged_nodes_split(spark, tmp_path, source_pbf):
    """P1: locations hold every node; the nodes table holds only tagged
    payloads (docs/MANUAL.md:118)."""
    src, pbf_path = source_pbf
    dest = str(tmp_path / "expanded2")
    expand_mod.expand(spark, pbf_path, dest, partitions=2,
                      materialize_edges=False)
    got = Dataset(spark, dest)
    n_locs = got.locations().count()
    n_tagged = got.nodes().count()
    assert n_tagged < n_locs  # fixture has untagged nodes
    assert got.nodes().where(F.size("tags") == 0).count() == 0


@pytest.mark.slow
def test_expand_xml_and_pbf_agree(spark, tmp_path, source_pbf):
    src, pbf_path = source_pbf
    res = src.extract(WORLD)
    xml_path = str(tmp_path / "world.osm")
    sink.write_xml(res, xml_path)
    d1 = str(tmp_path / "from_xml")
    d2 = str(tmp_path / "from_pbf")
    expand_mod.expand(spark, xml_path, d1, partitions=2,
                      materialize_edges=False)
    expand_mod.expand(spark, pbf_path, d2, partitions=2,
                      materialize_edges=False)
    a, b = Dataset(spark, d1), Dataset(spark, d2)
    assert a.stats() == b.stats()
    wa = {r.id: list(r.nodes) for r in a.ways().collect()}
    wb = {r.id: list(r.nodes) for r in b.ways().collect()}
    assert wa == wb


def test_fmt_for_compressed_dispatch():
    from osmexpress_spark.operators.expand import _fmt_for

    assert _fmt_for("planet.osm.gz") == "osmxml"
    assert _fmt_for("planet.xml.bz2") == "osmxml"
    assert _fmt_for("planet.osm.pbf") == "osmpbf"
    # compressed PBF is unsupported: fail with the clear extension
    # error up front, not an obscure decode failure later
    import pytest

    with pytest.raises(ValueError, match="cannot infer source format"):
        _fmt_for("planet.pbf.gz")


def test_fixture_dataset_concurrent_builders(spark, tmp_path):
    """Four threads of one session building the same missing fixture
    (the bulk parity test's shape) leave exactly one write behind."""
    from concurrent.futures import ThreadPoolExecutor

    path = str(tmp_path / "fx")
    with ThreadPoolExecutor(max_workers=4) as pool:
        futures = [
            pool.submit(testing.ensure_fixture_dataset, spark, path, 300, 7)
            for _ in range(4)
        ]
        assert [f.result(timeout=300) for f in futures] == [path] * 4
    rows = testing.generate(n_nodes=300, seed=7)
    tables = Dataset(spark, path).tables()
    for name in ("locations", "nodes", "ways", "relations"):
        assert tables[name].count() == len(rows[name]), name
