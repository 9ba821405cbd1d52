"""The per-partition union-find contraction that seeds
``wcc(pre_contract=True)`` (the ``wcc_two_phase`` contract query) must
never merge vertices of different components; its end-to-end labels
are checked in ``test_wcc.py::test_pre_contract_seeding_matches_plain``."""

from __future__ import annotations

from hoover_spark.operators.wcc import local_contract
from hoover_spark.sources.synthetic import edges_to_pairs, two_cliques
from tests.oracles import union_find_components


def test_local_contract_is_conservative(spark):
    """Contraction must never merge vertices from different true
    components (roots refine the oracle partition)."""
    g = two_cliques(spark, k=4, bridge=False)
    oracle = union_find_components(edges_to_pairs(g))
    mapping = {r["vid"]: r["root"] for r in local_contract(g.sym_edges(), 4).collect()}
    for v, r in mapping.items():
        assert oracle[v] == oracle[r]
