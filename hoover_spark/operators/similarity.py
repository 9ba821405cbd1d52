"""Similarity search over an embedding column (``array<float>``).

Two strategies, matching the scale ladder of a 100 TB vector corpus:

- **brute-force cosine top-k** — the exactness baseline: query-set ×
  corpus join with the dot product as a JVM higher-order function
  (``zip_with`` + ``aggregate`` — whole-stage codegen, no Python).
  Right answer, O(|Q|·|N|); used for small |Q| and as the recall
  oracle for the approximate path.
- **LSH-bucketed ANN** (random hyperplanes) — sign-pattern bucketing
  with deterministic hash-derived hyperplanes; candidates = bucket
  collisions across ``n_tables`` independent tables, then exact
  re-scoring of candidates only. Sub-linear candidate volume, and the
  bucket join is a plain equi-join (shuffle-partitioned, AQE-skew
  safe).

An IVF variant (k-means-free: centroids = hash-picked corpus rows) is
provided as :func:`ivf_topk` — the same probe-then-rescore plan shape
used by real IVF indexes.

No per-row Python and no pandas anywhere: every strategy is a JVM
plan of joins, higher-order functions and window ranks.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v
    )


def _norm(a):
    return F.sqrt(
        F.aggregate(F.transform(a, lambda x: x * x), F.lit(0.0), lambda acc, v: acc + v)
    )


def with_unit_vec(df: DataFrame, vec_col: str, out: str = "unit") -> DataFrame:
    """Pre-normalize embeddings to unit length (double precision) so
    cosine = dot; normalization happens once, not per pair.

    The norm is materialized in its own column first and the division
    references that column — putting ``_norm(v)`` inside the
    per-element lambda would re-evaluate the O(d) aggregate for every
    element (O(d²) per row: ~1M ops/row at d=1024)."""
    v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    nc = f"__norm_{out}"
    return (
        df.withColumn(nc, _norm(v))
        .withColumn(out, F.transform(v, lambda x: x / F.col(nc)))
        .drop(nc)
    )


def cosine_topk(
    vectors: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    query_id: str = "query_id",
) -> DataFrame:
    """(query_id, vec_id, cosine, rank) — exact top-k by cosine.

    ``queries(query_id, embedding)`` × ``vectors(vec_id, embedding)``;
    self-matches (same id) are excluded. The query side is broadcast
    (it is the small side by construction)."""
    vn = with_unit_vec(vectors, vec_col).select(
        F.col(id_col).alias("vec_id"), F.col("unit").alias("v")
    )
    qn = with_unit_vec(queries, vec_col).select(
        F.col(query_id).alias("query_id"), F.col("unit").alias("q")
    )
    scored = (
        vn.join(F.broadcast(qn))
        .where(F.col("vec_id") != F.col("query_id"))
        .select("query_id", "vec_id", _dot(F.col("q"), F.col("v")).alias("cosine"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "vec_id", "cosine", "rank")
    )


# ---------------------------------------------------------------------------
# LSH (random hyperplane) ANN
# ---------------------------------------------------------------------------

def _plane_weight(table: int, plane: int, dim: int) -> int:
    """Deterministic pseudo-random hyperplane weight in [-1000, 1000]
    (hash-derived — same schedule is recomputable anywhere)."""
    x = (1_103_515_245 * (table * 1_000_003 + plane * 64 + dim) + 12_345) % 2_147_483_647
    return (x % 2001) - 1000


def _plane_weight_expr(table: int, plane: int, idx) -> "F.Column":
    """Column form of :func:`_plane_weight` for an element-index column
    — weights are computed inside codegen from the index, so no
    per-dimension literal arrays appear in the plan (at dim=1024 the
    literal-array form put ~16k constants in the plan)."""
    x = F.pmod(
        F.lit(1_103_515_245).cast("long")
        * (F.lit(table * 1_000_003 + plane * 64).cast("long") + idx.cast("long"))
        + F.lit(12_345),
        F.lit(2_147_483_647),
    )
    return (F.pmod(x, F.lit(2001)) - F.lit(1000)).cast("double")


def hyperplane_buckets(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    n_planes: int = 8,
    n_tables: int = 2,
    dim: int | None = None,
) -> DataFrame:
    """(id, table, bucket) — sign-pattern bucket per hash table.

    bucket = Σ_j [⟨w_{t,j}, v⟩ > 0] · 2^j with fixed integer weight
    planes; each dot product is one indexed ``transform`` + fold (pure
    codegen, dimension-agnostic — ``dim`` is accepted for backward
    compatibility but unused)."""
    del dim  # weights derive from the element index; no probe needed
    v = F.transform(F.col(vec_col), lambda x: x.cast("double"))

    def weighted(t: int, p: int):
        return lambda x, i: x * _plane_weight_expr(t, p, i)

    rows = None
    for t in range(n_tables):
        bucket = None
        for p in range(n_planes):
            prod = F.transform(v, weighted(t, p))
            dot = F.aggregate(prod, F.lit(0.0), lambda acc, y: acc + y)
            bit = F.when(dot > 0, F.lit(1 << p)).otherwise(F.lit(0))
            bucket = bit if bucket is None else bucket + bit
        r = df.select(
            F.col(id_col).alias("id"), F.lit(t).alias("table"), bucket.alias("bucket")
        )
        rows = r if rows is None else rows.unionByName(r)
    return rows


def lsh_ann_topk(
    vectors: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    query_id: str = "query_id",
    n_planes: int = 8,
    n_tables: int = 2,
) -> DataFrame:
    """Approximate top-k: bucket-collision candidates → exact rescore.

    Candidate volume ≈ corpus/2^planes per table; the rescore join
    touches only candidates, which is the entire point at 10^9+
    vectors. Recall is tested against :func:`cosine_topk`."""
    vb = hyperplane_buckets(vectors, id_col, vec_col, n_planes, n_tables)
    qb = hyperplane_buckets(queries, query_id, vec_col, n_planes, n_tables)
    cand = (
        qb.withColumnRenamed("id", "query_id")
        .join(vb.withColumnRenamed("id", "vec_id"), on=["table", "bucket"])
        .select("query_id", "vec_id")
        .where(F.col("query_id") != F.col("vec_id"))
        .distinct()
    )
    vn = with_unit_vec(vectors, vec_col).select(
        F.col(id_col).alias("vec_id"), F.col("unit").alias("v")
    )
    qn = with_unit_vec(queries, vec_col).select(
        F.col(query_id).alias("query_id"), F.col("unit").alias("q")
    )
    scored = (
        cand.join(vn, on="vec_id")
        .join(F.broadcast(qn), on="query_id")
        .select("query_id", "vec_id", _dot(F.col("q"), F.col("v")).alias("cosine"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "vec_id", "cosine", "rank")
    )


# ---------------------------------------------------------------------------
# IVF (inverted-file) ANN
# ---------------------------------------------------------------------------

def ivf_topk(
    vectors: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    query_id: str = "query_id",
    n_lists: int = 16,
    n_probe: int = 4,
    centroid_rank: "F.Column | None" = None,
) -> DataFrame:
    """IVF-style ANN: centroids = deterministically sampled corpus rows
    (id hash-ranked), every vector assigned to its nearest centroid
    (one broadcast join), queries probe their ``n_probe`` nearest lists
    and rescore only those lists' members.

    Plan shape: assignment = corpus × broadcast(centroids) argmin;
    probe = queries × broadcast(centroids) top-n_probe; rescore join is
    partitioned by list id — the exact layout a 1000-executor IVF scan
    wants (each list is a partition-local scan).

    ``centroid_rank`` overrides the sampling rank expression (default
    ``pmod(xxhash64(id), 997)``); pass engine-portable arithmetic (e.g.
    an LCG of the id) when an external oracle must recompute the same
    centroid choice."""
    if centroid_rank is None:
        centroid_rank = F.pmod(F.xxhash64(F.col(id_col)), F.lit(997))
    cents = (
        vectors.withColumn("_r", centroid_rank)
        .orderBy("_r", id_col)
        .limit(n_lists)
        .select(F.col(id_col).alias("list_id"), F.col(vec_col).alias("cvec"))
    )
    vn = with_unit_vec(vectors, vec_col).select(
        F.col(id_col).alias("vec_id"), F.col("unit").alias("v")
    )
    cn = with_unit_vec(cents, "cvec").select(
        "list_id", F.col("unit").alias("c")
    )
    # argmax-sim via max_by (one partial+final agg, no window sort over
    # |corpus|·n_lists rows); tie-break = lowest list_id via the struct
    # ordering (sim, -list_id). The vector rides along in the value
    # struct so no re-join against the corpus is needed.
    assigned = (
        vn.join(F.broadcast(cn))
        .select("vec_id", "list_id", "v", _dot(F.col("v"), F.col("c")).alias("sim"))
        .groupBy("vec_id")
        .agg(
            F.max_by(
                F.struct("list_id", "v"),
                F.struct(F.col("sim"), (-F.col("list_id")).alias("neg")),
            ).alias("best")
        )
        .select("vec_id", F.col("best.list_id").alias("list_id"), F.col("best.v").alias("v"))
    )
    qn = with_unit_vec(queries, vec_col).select(
        F.col(query_id).alias("query_id"), F.col("unit").alias("q")
    )
    w_probe = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("list_id"))
    probes = (
        qn.join(F.broadcast(cn))
        .select("query_id", "list_id", "q", _dot(F.col("q"), F.col("c")).alias("sim"))
        .withColumn("rn", F.row_number().over(w_probe))
        .where(F.col("rn") <= n_probe)
        .select("query_id", "list_id", "q")
    )
    scored = (
        probes.join(assigned, on="list_id")
        .where(F.col("query_id") != F.col("vec_id"))
        .select("query_id", "vec_id", _dot(F.col("q"), F.col("v")).alias("cosine"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "vec_id", "cosine", "rank")
    )


def embedding_near_dup_pairs(
    vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    n_planes: int = 8,
    n_tables: int = 4,
) -> DataFrame:
    """(id_a, id_b, cosine) — embedding-cosine near-duplicate pairs via
    LSH bucket collisions + exact rescore (the embedding flavor of the
    dedup family)."""
    b = hyperplane_buckets(vectors, id_col, vec_col, n_planes, n_tables)
    left = b.select("table", "bucket", F.col("id").alias("id_a"))
    right = b.select("table", "bucket", F.col("id").alias("id_b"))
    cand = (
        left.join(right, on=["table", "bucket"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    vn = with_unit_vec(vectors, vec_col).select(
        F.col(id_col).alias("id"), F.col("unit").alias("u")
    )
    return (
        cand.join(vn.select(F.col("id").alias("id_a"), F.col("u").alias("ua")), on="id_a")
        .join(vn.select(F.col("id").alias("id_b"), F.col("u").alias("ub")), on="id_b")
        .select("id_a", "id_b", _dot(F.col("ua"), F.col("ub")).alias("cosine"))
        .where(F.col("cosine") >= threshold)
    )
