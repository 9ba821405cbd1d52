"""Matrix-Market source: parse semantics + batch-vs-stream equivalence
on an MM fixture graph (reference: market_to_binary.c feeding
update_rates.cpp micro-batched ingestion)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from hoover_spark.operators.graph import Graph
from hoover_spark.operators.wcc import wcc
from hoover_spark.sources.matrix_market import load_matrix_market, mm_declared_shape
from hoover_spark.streaming.ingest import run_stream

# two components: a 5-cycle (1-5) and a triangle (6-8); 1-based ids
MM_EDGES = [(1, 2), (2, 3), (3, 4), (4, 5), (5, 1), (6, 7), (7, 8), (8, 6)]


def write_mm(path, edges, m=8):
    with open(path, "w") as f:
        f.write("%%MatrixMarket matrix coordinate pattern general\n")
        f.write("% comment line that must be skipped\n")
        f.write(f"{m} {m} {len(edges)}\n")
        for i, j in edges:
            f.write(f"{i} {j}\n")


def test_parse_and_shape(spark, tmp_path):
    p = os.path.join(tmp_path, "g.mtx")
    write_mm(p, MM_EDGES)
    df = load_matrix_market(spark, p)
    got = {(r["src"], r["dst"]) for r in df.collect()}
    assert got == {(i - 1, j - 1) for i, j in MM_EDGES}
    assert mm_declared_shape(spark, p) == (8, 8, len(MM_EDGES))
    assert df.count() == 8


def test_weighted_body_rejected(spark, tmp_path):
    p = os.path.join(tmp_path, "w.mtx")
    with open(p, "w") as f:
        f.write("%%MatrixMarket matrix coordinate real general\n")
        f.write("3 3 2\n")
        f.write("1 2 0.5\n")
        f.write("2 3 1.5\n")
    with pytest.raises(ValueError):
        load_matrix_market(spark, p)


def test_mm_batch_vs_stream_equivalence(spark, tmp_path):
    """Final WCC labels after streaming the MM edges in 3 micro-batch
    drops == one batch run over the full MM edge set (reference
    analogue: update_rates.cpp streaming vs whole-graph load)."""
    p = os.path.join(tmp_path, "g.mtx")
    write_mm(p, MM_EDGES)
    edges = load_matrix_market(spark, p).localCheckpoint()

    batch_labels = {
        r["vid"]: r["label"] for r in wcc(Graph(edges, num_partitions=4)).collect()
    }

    drops = os.path.join(tmp_path, "drops")
    os.makedirs(drops)
    rows = edges.collect()
    for i in range(3):
        chunk = rows[i::3]
        spark.createDataFrame(chunk, schema="src long, dst long").coalesce(
            1
        ).write.parquet(os.path.join(tmp_path, f"stage{i}"))
        # move into the watched dir as one atomic drop
        stage = os.path.join(tmp_path, f"stage{i}")
        for name in os.listdir(stage):
            if name.endswith(".parquet"):
                os.rename(
                    os.path.join(stage, name), os.path.join(drops, f"drop{i}.parquet")
                )

    state = run_stream(
        spark, drops, os.path.join(tmp_path, "work"), kernel="wcc", num_partitions=4
    )
    stream_labels = {r["vid"]: r["label"] for r in state.state().collect()}
    assert stream_labels == batch_labels


# ---------------------------------------------------------------------------
# binary edge format (market_to_binary.c output layout)
# ---------------------------------------------------------------------------

def write_binary(path, edges, m=8):
    """Write edges in market_to_binary.c:54-66 layout: int32 LE header
    (M, N, nz) then the full I array then the full J array (0-based)."""
    import numpy as np

    src = np.array([i - 1 for i, _ in edges], dtype="<i4")
    dst = np.array([j - 1 for _, j in edges], dtype="<i4")
    hdr = np.array([m, m, len(edges)], dtype="<i4")
    with open(path, "wb") as f:
        f.write(hdr.tobytes())
        f.write(src.tobytes())
        f.write(dst.tobytes())


def test_binary_roundtrip_matches_mm(spark, tmp_path):
    """The binary loader and the MM loader yield the identical edge set
    for the same graph (the reference's own conversion invariant)."""
    from hoover_spark.sources.matrix_market import (
        binary_edges_shape,
        load_binary_edges,
    )

    mm = os.path.join(tmp_path, "g.mtx")
    bin_p = os.path.join(tmp_path, "g.bin")
    write_mm(mm, MM_EDGES)
    write_binary(bin_p, MM_EDGES)

    from_mm = {(r["src"], r["dst"]) for r in load_matrix_market(spark, mm).collect()}
    from_bin = {
        (r["src"], r["dst"])
        for r in load_binary_edges(spark, bin_p, num_partitions=4).collect()
    }
    assert from_bin == from_mm
    assert binary_edges_shape(open(bin_p, "rb").read()) == (8, 8, len(MM_EDGES))


def test_binary_directory_parallel_decode(spark, tmp_path):
    """A directory of per-chunk binary files (the reference's per-PE
    sharding) decodes as the union of its shards."""
    from hoover_spark.sources.matrix_market import load_binary_edges

    d = os.path.join(tmp_path, "shards")
    os.makedirs(d)
    write_binary(os.path.join(d, "part0.bin"), MM_EDGES[:4])
    write_binary(os.path.join(d, "part1.bin"), MM_EDGES[4:])
    got = {(r["src"], r["dst"]) for r in load_binary_edges(spark, d).collect()}
    assert got == {(i - 1, j - 1) for i, j in MM_EDGES}


def test_binary_truncated_rejected(spark, tmp_path):
    from hoover_spark.sources.matrix_market import load_binary_edges

    p = os.path.join(tmp_path, "bad.bin")
    write_binary(p, MM_EDGES)
    with open(p, "r+b") as f:
        f.truncate(3 * 4 + 5 * 4)  # header + only 5 of the 16 edge words
    with pytest.raises(Exception, match="expected"):
        load_binary_edges(spark, p).collect()


def test_binary_wcc_end_to_end(spark, tmp_path):
    """Binary-loaded graph runs the WCC kernel: 2 components."""
    from hoover_spark.sources.matrix_market import load_binary_edges

    p = os.path.join(tmp_path, "g.bin")
    write_binary(p, MM_EDGES)
    labels = wcc(Graph(load_binary_edges(spark, p)))
    n_comp = labels.select("label").distinct().count()
    assert n_comp == 2
