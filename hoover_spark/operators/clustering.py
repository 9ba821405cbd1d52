"""Embedding clustering + cluster-bucketed semantic dedup.

Beyond-reference training-pipeline operators (build brief): a
deterministic Lloyd k-means over the ``embeddings`` table and a
SemDeDup-style near-duplicate pass (Abbas et al. 2023, "SemDeDup:
Data-efficient learning at web-scale through semantic deduplication")
that uses the k-means clusters as candidate buckets — pairwise cosine
is evaluated only WITHIN a cluster, never all-pairs, which is the same
candidate-capping discipline as the MinHash-LSH / simhash / IVF paths.

Determinism contract (what makes the DuckDB oracle twin hash-exact):

- init centroids = the ``k`` rows with the smallest ids, cluster id =
  rank by id. No RNG, no data-order dependence.
- the assignment score is the EXPANDED squared distance with the
  row-constant term dropped: ``score = c·c − 2·v·c`` (same argmin as
  ``|v−c|²``). Both engines compute each dot product as a sequential
  left-fold over doubles (Spark ``F.aggregate``, DuckDB
  ``list_dot_product`` on ``DOUBLE[]``), so the scores are
  bit-identical; ties break on the smaller cluster id.
- centroids are rounded to 6 dp after every update, so both engines
  enter the next round from identical doubles. The update mean sums
  |cluster| doubles (partial aggregation orders differ between
  engines) but the ~1e-13 relative error is far inside the 6 dp
  rounding grid.

Scale shape (100 TB corpus): assignment is a map-only broadcast
nested-loop over k centroids (no shuffle of the vectors); the update
shuffles only k·d partial aggregates per partition (posexplode feeds
Spark's map-side partial hash aggregate — the exploded rows never
cross the wire). ``k`` should grow with the corpus (SemDeDup uses
~√N..N/10k clusters) so per-cluster pair counts stay bounded; the
within-cluster self-join is then an ordinary equi-join the AQE skew
handler can split.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from hoover_spark.operators.similarity import _dot, with_unit_vec
from hoover_spark.plans.iteration import IterationLoop, until_zero


def _as_double(vec_col):
    return F.transform(F.col(vec_col), lambda x: x.cast("double"))


def kmeans_centroids(
    emb: DataFrame,
    k: int = 4,
    assign_rounds: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> tuple[DataFrame, DataFrame]:
    """Run Lloyd k-means; return ``(assignment, centroids)``.

    ``assign_rounds`` counts assignment passes; a centroid update runs
    between consecutive passes (so 2 rounds = assign → update →
    assign). ``assignment`` is ``(id_col, cluster)``; ``centroids`` is
    ``(cluster, centroid: array<double>)`` — the centroids the FINAL
    assignment was computed against (rounded to 6 dp except the raw
    float32-exact init).

    The ``assign_rounds − 1`` updates run on ``IterationLoop.run``
    (``plans/iteration.py``): each round (assign + update) holds the
    centroid table in one checkpoint action, whose Observation counts
    the centroids that changed. The assignment's argmin carries each
    vector on to the update, so a round scans the embeddings once. A
    round that changes none is a fixed point — every later round would
    repeat it — so the updates stop there and the final assignment is
    the same.
    """
    if k < 1 or assign_rounds < 1:
        raise ValueError("k and assign_rounds must be >= 1")
    loop = IterationLoop(emb.sparkSession, kernel="kmeans", max_iterations=assign_rounds - 1)
    ev = emb.select(F.col(id_col), _as_double(vec_col).alias("v"))
    # init: k smallest ids, cluster = rank-1 (window runs over k rows
    # post-limit — not a global single-partition sort of the corpus)
    cent = loop.hold(
        ev.orderBy(id_col)
        .limit(k)
        .select(
            (F.row_number().over(Window.orderBy(id_col)) - 1).alias("cluster"),
            F.col("v").alias("centroid"),
        )
    )

    def assignment(cent, *carry):
        # score = c·c − 2 v·c  (|v−c|² minus the row-constant v·v):
        # same argmin, one fewer dot product, and bit-portable because
        # both engines fold the dot sequentially over doubles. The
        # ``carry`` columns ride the argmin struct after (score,
        # cluster), which is unique per id, so they never break a tie.
        scored = (
            ev.crossJoin(F.broadcast(cent.select("cluster", "centroid")))
            .select(
                id_col,
                "cluster",
                F.round(
                    _dot(F.col("centroid"), F.col("centroid"))
                    - F.lit(2.0) * _dot(F.col("v"), F.col("centroid")),
                    6,
                ).alias("score"),
                *carry,
            )
        )
        return (
            scored.groupBy(id_col)
            .agg(F.min(F.struct("score", "cluster", *carry)).alias("m"))
            .select(id_col, "m.cluster", *[f"m.{c}" for c in carry])
        )

    def step(cent, _it, _prev):
        # update: element-wise mean per cluster over the vectors the
        # argmin carried (one scan of the embeddings per round).
        # posexplode rows are combined map-side (hash aggregate) — only
        # k·d partials per partition shuffle.
        upd = (
            assignment(cent, "v")
            .select("cluster", F.posexplode("v").alias("pos", "val"))
            .groupBy("cluster", "pos")
            .agg(F.round(F.avg("val"), 6).alias("m"))
            .groupBy("cluster")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "m"))),
                    lambda s: s["m"],
                ).alias("newc")
            )
        )
        # empty cluster keeps its previous centroid
        stepped = cent.join(upd, on="cluster", how="left").select(
            "cluster",
            F.coalesce("newc", "centroid").alias("centroid"),
            F.coalesce(F.col("newc") != F.col("centroid"), F.lit(False)).alias("moved"),
        )
        return stepped, [F.sum(F.col("moved").cast("long")).alias("n_moved")]

    cent, it, _ = loop.run(cent, step, until_zero("n_moved"), rounds=assign_rounds - 1)
    cent = loop.finish(cent.select("cluster", "centroid"), it)
    return assignment(cent), cent


def kmeans_assign(
    emb: DataFrame,
    k: int = 4,
    assign_rounds: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Final k-means assignment ``(id_col, cluster)`` (see
    :func:`kmeans_centroids`)."""
    assign, _ = kmeans_centroids(emb, k, assign_rounds, id_col, vec_col)
    return assign


def semantic_dedup_pairs(
    emb: DataFrame,
    k: int = 4,
    assign_rounds: int = 2,
    tau: float = 0.97,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """SemDeDup: near-duplicate pairs by cosine, candidate-capped to
    within-k-means-cluster pairs.

    Returns ``(id_a, id_b, cluster, cosine)`` with ``id_a < id_b`` and
    ``cosine`` (6 dp-rounded; the threshold compares the ROUNDED value
    so both engines cut on identical doubles). All-pairs never
    happens: the self-join key is the cluster id, so candidate volume
    is Σ|cluster|², bounded by choosing k ∝ corpus size.
    """
    assign, _ = kmeans_centroids(emb, k, assign_rounds, id_col, vec_col)
    un = with_unit_vec(emb, vec_col, out="u").select(
        F.col(id_col).alias("_uid"), "u"
    )
    side = assign.join(un, on=assign[id_col] == un["_uid"]).select(
        F.col(id_col), "cluster", "u"
    )
    a = side.select(
        F.col(id_col).alias("id_a"), "cluster", F.col("u").alias("ua")
    )
    b = side.select(
        F.col(id_col).alias("id_b"), "cluster", F.col("u").alias("ub")
    )
    return (
        a.join(b, on="cluster")
        .where(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            "cluster",
            F.round(_dot(F.col("ua"), F.col("ub")), 6).alias("cosine"),
        )
        .where(F.col("cosine") >= F.lit(tau))
    )
