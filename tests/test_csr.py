"""Per-partition CSR blocks (north rule: adjacency as CSR blocks).

Round-trip check: rebuilding (src, dst) pairs from every block's
(vids, indptr, indices) must reproduce the symmetric adjacency exactly,
with sorted neighbor runs (the reference's AVL rows are ordered,
``src/hvr_irregular_matrix.cpp:37-56``)."""

from __future__ import annotations

from hoover_spark.operators.graph import graph_from_pairs
from hoover_spark.sources.synthetic import two_cliques


def _roundtrip(blocks):
    pairs = set()
    for b in blocks:
        vids, indptr, indices = b["vids"], b["indptr"], b["indices"]
        assert len(indptr) == len(vids) + 1
        assert indptr[-1] == len(indices)
        for i, v in enumerate(vids):
            run = indices[indptr[i] : indptr[i + 1]]
            assert run == sorted(run), f"unsorted adjacency for {v}"
            for d in run:
                pairs.add((v, d))
    return pairs


def test_csr_blocks_roundtrip(spark):
    g = two_cliques(spark, k=4, bridge=True)
    blocks = g.csr_blocks(num_parts=4).collect()
    expected = {(r["src"], r["dst"]) for r in g.sym_edges().collect()}
    assert _roundtrip(blocks) == expected


def test_csr_blocks_partition_disjoint(spark):
    """Each vertex's row lives in exactly one block (hash ownership —
    the reference's VERTEX_ID_PE analogue)."""
    g = graph_from_pairs(spark, [(i, (i + 1) % 20) for i in range(20)])
    blocks = g.csr_blocks(num_parts=4).collect()
    seen = {}
    for b in blocks:
        for v in b["vids"]:
            assert v not in seen, f"vertex {v} in two blocks"
            seen[v] = b["part"]
    assert len(seen) == 20
