"""End-to-end community detection from point clouds — replicas of the
reference's golden fixtures (``community_test_cases``: tiny geometric
configurations with known clique/community structure; format
``x,y,z,id`` per ``test/community_detection.cpp:706-759``)."""

from __future__ import annotations

import os

import pytest

from hoover_spark.operators.communities import detect_communities_from_points
from hoover_spark.sources.points import load_points_csv, points_from_rows

# one unit tetrahedron = one 4-clique at radius ~1.5
TET = [(0.0, 0.0, 0.0, 1), (0.0, 1.0, 0.0, 2), (1.0, 0.0, 0.0, 3), (0.0, 0.0, 1.0, 4)]
# second tetrahedron far away (ids 5-8)
TET2 = [(1000.0, 0.0, 0.0, 5), (1000.0, 1.0, 0.0, 6), (1001.0, 0.0, 0.0, 7), (1000.0, 0.0, 1.0, 8)]
RADIUS = 1.5


def test_one_tetrahedron_one_community(spark):
    pts = points_from_rows(spark, TET)
    res = {r["vid"]: r["community"] for r in
           detect_communities_from_points(pts, RADIUS).collect()}
    assert set(res) == {1, 2, 3, 4}
    assert len(set(res.values())) == 1


def test_two_tetrahedra_two_communities(spark):
    pts = points_from_rows(spark, TET + TET2)
    res = {r["vid"]: r["community"] for r in
           detect_communities_from_points(pts, RADIUS).collect()}
    assert set(res) == set(range(1, 9))
    assert len({res[v] for v in (1, 2, 3, 4)}) == 1
    assert len({res[v] for v in (5, 6, 7, 8)}) == 1
    assert res[1] != res[5]


REF_CASES = "/root/reference/community_test_cases"
# golden CSVs from the reference checkout; the synthetic two_cliques
# fixtures above cover the same shapes when it is absent
needs_ref = pytest.mark.skipif(
    not os.path.isdir(REF_CASES), reason=f"{REF_CASES} not present"
)


def _ref_communities(spark, name, radius=3.0):
    pts = load_points_csv(spark, os.path.join(REF_CASES, name))
    return {r["vid"]: r["community"] for r in
            detect_communities_from_points(pts, radius).collect()}


@needs_ref
def test_reference_csv_4_vert_1_cliq(spark):
    """The reference's own golden file: one 4-clique -> one community."""
    res = _ref_communities(spark, "4_vert_1_cliq.csv")
    assert set(res) == {1, 2, 3, 4}
    assert len(set(res.values())) == 1


@needs_ref
def test_reference_csv_8_vert_2_cliq(spark):
    """Two well-separated 4-cliques -> two communities."""
    res = _ref_communities(spark, "8_vert_2_cliq.csv")
    assert set(res) == set(range(1, 9))
    assert len({res[v] for v in (1, 2, 3, 4)}) == 1
    assert len({res[v] for v in (5, 6, 7, 8)}) == 1
    assert res[1] != res[5]


@needs_ref
def test_reference_csv_8_vert_2_cliq_overlapping(spark):
    """Overlapping cliques percolate into ONE community. The file's
    malformed '0.0.11' coordinate must parse as 0.0 (atof semantics),
    putting vertex 5 at the origin inside the first cluster; vertices
    6-8 are only 3 points and cannot form a 4-clique."""
    res = _ref_communities(spark, "8_vert_2_cliq_overlapping.csv")
    assert set(res) == {1, 2, 3, 4, 5}
    assert len(set(res.values())) == 1


def test_csv_loader_roundtrip(spark, tmp_path):
    p = os.path.join(tmp_path, "pts.csv")
    with open(p, "w") as f:
        for x, y, z, i in TET:
            f.write(f"{x},{y},{z},{float(i)}\n")
    df = load_points_csv(spark, p)
    rows = {(r["id"], r["x"], r["y"], r["z"]) for r in df.collect()}
    assert rows == {(i, x, y, z) for (x, y, z, i) in TET}
    res = {r["vid"]: r["community"] for r in
           detect_communities_from_points(df, RADIUS).collect()}
    assert len(set(res.values())) == 1
