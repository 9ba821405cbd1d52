"""Property-based tests (hypothesis): the engine vs independent oracles
on *arbitrary* inputs, not hand-picked fixtures.

Mirrors the reference's trace-diff methodology (its golden fixtures are
themselves outputs of an independent implementation) but explores the
input space: random multigraphs with self-loops/isolated chains for
WCC, and arbitrary unicode text for the polynomial shingle codes whose
int64-fit bound (ADVICE round 1) only bites on non-ASCII input.

Spark jobs are seconds each, so ``max_examples`` is deliberately small;
hypothesis still shrinks failures to minimal graphs/strings.
"""

from __future__ import annotations

import tempfile

import duckdb
from hypothesis import HealthCheck, given, settings, strategies as st

from hoover_spark.functions.text import shingle_codes, shingle_codes_sql
from hoover_spark.operators.graph import Graph
from hoover_spark.operators.wcc import wcc
from hoover_spark.plans.iteration import IterationLoop
from tests.oracles import union_find_components

SETTINGS = settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)

edge_lists = st.lists(
    st.tuples(st.integers(0, 40), st.integers(0, 40)),
    min_size=1,
    max_size=120,
)


@given(pairs=edge_lists)
@SETTINGS
def test_wcc_matches_union_find(spark, pairs):
    """Hash-min WCC label == min vid of the union-find component, for
    any multigraph (duplicate edges, self-loops, both directions)."""
    edges = spark.createDataFrame(pairs, schema="src long, dst long")
    got = {r["vid"]: r["label"] for r in wcc(Graph(edges)).collect()}
    want = union_find_components(pairs)
    # union_find_components only tracks vertices seen in pairs; wcc
    # derives vertices from raw edges, so the keysets must agree too.
    assert got == want


@given(pairs=edge_lists, n_iter=st.integers(0, 3))
@SETTINGS
def test_wcc_warm_start_converges_same(spark, pairs, n_iter):
    """Resuming from any bounded-iteration prefix checkpoint reaches the
    same fixpoint (checkpoint/resume correctness, north-rule item)."""
    edges = spark.createDataFrame(pairs, schema="src long, dst long")
    g = Graph(edges)
    with tempfile.TemporaryDirectory() as ck:
        prefix = IterationLoop(spark, "wcc", checkpoint_dir=ck, max_iterations=n_iter)
        wcc(g, loop=prefix)
        resumed = IterationLoop(spark, "wcc", checkpoint_dir=ck)
        got = {
            r["vid"]: r["label"]
            for r in wcc(g, loop=resumed, resume=True).collect()
        }
    # the second run continued from the prefix's last round
    assert resumed.metrics[0]["iter"] == len(prefix.metrics) + 1
    assert got == union_find_components(pairs)


# Text with real unicode (exercises the mod-256 reduction): mix ASCII,
# Latin-1, CJK, and astral-plane code points.
unicode_text = st.text(
    alphabet=st.one_of(
        st.characters(min_codepoint=32, max_codepoint=126),
        st.characters(min_codepoint=0xC0, max_codepoint=0xFF),
        st.characters(min_codepoint=0x4E00, max_codepoint=0x4E2F),
        st.characters(min_codepoint=0x1F600, max_codepoint=0x1F60F),
    ),
    min_size=0,
    max_size=64,
)


@given(texts=st.lists(unicode_text, min_size=1, max_size=6))
@SETTINGS
def test_shingle_codes_match_duckdb_on_unicode(spark, texts):
    """Spark shingle codes are bit-for-bit the DuckDB twin's on
    arbitrary multilingual text (the driver-oracle contract's
    foundation for every minhash/simhash/winnowing entry)."""
    rows = [(i, t) for i, t in enumerate(texts)]
    df = spark.createDataFrame(rows, schema="doc_id long, text string")
    got = {
        (r["id"], r["pos"], r["code"])
        for r in shingle_codes(df, "doc_id", "text", k=5).collect()
    }
    con = duckdb.connect()
    con.execute("CREATE TABLE docs(doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO docs VALUES (?, ?)", rows)
    want = set(
        con.execute(shingle_codes_sql("docs", "doc_id", "text", k=5)).fetchall()
    )
    con.close()
    assert got == want
    # int64-fit bound: every downstream affine product a*code (a<2^31)
    # must fit; codes are provably < 256 * sum(31^j, j<5).
    bound = 256 * sum(31**j for j in range(5))
    assert all(0 <= c < bound for _, _, c in got)


@given(pairs=edge_lists)
@SETTINGS
def test_pagerank_matches_power_iteration(spark, pairs):
    """Bounded-iteration PageRank matches the independent numpy power
    iteration to allclose 1e-9 on any multigraph (north-rule tolerance
    is 1e-6; we hold a stricter bar on small graphs)."""
    import numpy as np

    from hoover_spark.operators.pagerank import pagerank
    from tests.oracles import pagerank_oracle

    # the oracle treats pairs as a simple directed graph; dedup and
    # drop self-loops to align with Graph.clean_edges() semantics
    simple = sorted({(s, d) for s, d in pairs if s != d})
    if not simple:
        return
    edges = spark.createDataFrame(simple, schema="src long, dst long")
    got = {
        r["vid"]: r["rank"]
        for r in pagerank(Graph(edges), n_iterations=3).collect()
    }
    want = pagerank_oracle(simple, n_iter=3)
    assert set(got) == set(want)
    for v in want:
        assert np.isclose(got[v], want[v], atol=1e-9), (v, got[v], want[v])


@given(pairs=edge_lists)
@SETTINGS
def test_triangle_count_matches_bruteforce(spark, pairs):
    """Degree-oriented wedge-join triangle count == brute force on any
    multigraph (duplicates/self-loops must not inflate the count)."""
    from hoover_spark.operators.triangles import triangle_count
    from tests.oracles import triangle_count_oracle

    edges = spark.createDataFrame(pairs, schema="src long, dst long")
    assert triangle_count(Graph(edges)) == triangle_count_oracle(pairs)


@given(
    texts=st.lists(
        st.one_of(st.none(), unicode_text), min_size=1, max_size=12
    ),
    k=st.integers(2, 7),
)
@SETTINGS
def test_code_segments_batch_kernel_matches_perdoc(texts, k):
    """The r5 batch-vectorized shingle kernel (single Arrow utf-8
    buffer → one utf-32 decode, continuation-byte offset cumsum,
    cross-document window gather) is bit-identical to the per-document
    reference loop on arbitrary unicode + null mixes — a pure pandas
    property, so hypothesis samples far wider than the Spark oracles."""
    import numpy as np
    import pandas as pd

    from hoover_spark.functions.text import _code_segments_perdoc, code_segments

    pdf = pd.DataFrame({"id": list(range(len(texts))), "text": texts})
    got = code_segments(pdf, k)
    want = _code_segments_perdoc(pdf, k)
    if want is None:
        assert got is None
        return
    for g, w, name in zip(got, want, ("ids", "cat", "starts")):
        assert np.array_equal(g, w), name
