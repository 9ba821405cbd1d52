"""Implicit-edge discovery: grid-pruned spatial radius self-join.

Reference semantics — the heart of HOOVER's dynamic graph:

- ``should_have_edge`` (``inc/hoover.h:100-107``): symmetric predicate
  vertex×vertex → edge, e.g. Euclidean distance ≤ r
  (``test/community_detection.cpp:206-228``);
- ``actor_to_partition`` (``inc/hoover.h:94-98``): vertex → spatial
  grid partition (3-D grid, ``community_detection.cpp:172-186``);
- ``might_interact`` (``inc/hoover.h:84-91``): partition → neighboring
  partitions expansion;
- ``create_new_edges`` (``src/hoover.cpp:629-661``): for each updated
  vertex, test the predicate against all vertices in interacting
  partitions — a partition-pruned block-nested-loop join.

Spark-first plan (SURVEY.md §2 J1): bucket each point into a grid cell
of side ``radius`` (the partition function), explode each point into
its 3^d neighbor cells on ONE side of the join (``might_interact`` as a
generator), equi-join on cell id — Catalyst runs a shuffled hash join
on the cell key, the exact partition-pruning the reference hand-rolls —
then apply the exact distance predicate. Candidate pairs are O(points
per 3^d cells), never O(n²).

All expressions JVM-side; dedupe by canonical (id_a < id_b).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def implicit_edges(
    points: DataFrame,
    id_col: str,
    coord_cols: list[str],
    radius: float,
) -> DataFrame:
    """(id_a, id_b, dist) — all pairs with Euclidean distance ≤ radius
    (id_a < id_b), found via neighbor-cell equi-join + exact predicate.

    ``points(id, x, y, ...)``; any dimensionality (3^d cell expansion —
    keep d small, as the reference does)."""
    d = len(coord_cols)
    cells = points.select(
        F.col(id_col).alias("id"),
        *[F.col(c).cast("double").alias(c) for c in coord_cols],
        *[F.floor(F.col(c) / F.lit(radius)).cast("long").alias(f"g{i}")
          for i, c in enumerate(coord_cols)],
    )

    # side A: home cell only; side B: exploded into all 3^d neighbor
    # cells (the might_interact expansion). Each near pair meets in
    # exactly one cell — B's shifted copy that lands on A's home cell.
    a = cells.select(
        "id", *coord_cols,
        F.concat_ws(":", *[F.col(f"g{i}").cast("string") for i in range(d)]).alias("cell"),
    )

    offsets: list[list[int]] = [[]]
    for _ in range(d):
        offsets = [o + [s] for o in offsets for s in (-1, 0, 1)]
    shifted_keys = F.array(*[
        F.concat_ws(":", *[(F.col(f"g{i}") + F.lit(off[i])).cast("string") for i in range(d)])
        for off in offsets
    ])
    b = cells.select(
        F.col("id").alias("id_b"),
        *[F.col(c).alias(f"{c}_b") for c in coord_cols],
        F.explode(shifted_keys).alias("cell"),
    )

    dist2 = None
    for c in coord_cols:
        diff = F.col(c) - F.col(f"{c}_b")
        t = diff * diff  # explicit multiply: exact fp op (pow() is not)
        dist2 = t if dist2 is None else dist2 + t

    return (
        a.join(b, on="cell")
        .where(F.col("id") < F.col("id_b"))
        .where(dist2 <= F.lit(float(radius) ** 2))
        .select(
            F.col("id").alias("id_a"),
            "id_b",
            F.sqrt(dist2).alias("dist"),
        )
    )


def radius_join(
    left: DataFrame,
    right: DataFrame,
    coord_cols: list[str],
    radius: float,
    left_cols: list[str],
    right_cols: list[str],
) -> DataFrame:
    """Two-sided radius join: all (left, right) pairs with Euclidean
    distance ≤ radius between their ``coord_cols``. Same grid-pruned
    plan as :func:`implicit_edges` (home cell on the left, 3^d
    neighbor-cell explode on the right) but across two different
    tables — the shape the SIR layered-graph propagation needs
    (reference ``test/infectious_test.c:84-99``: cross-layer
    ``should_have_edge``).

    ``left_cols`` / ``right_cols`` name the passthrough columns; the
    output carries them plus nothing else (coords dropped before any
    downstream shuffle)."""
    d = len(coord_cols)

    a = left.select(
        *left_cols,
        *[F.col(c).cast("double").alias(f"_la_{c}") for c in coord_cols],
        F.concat_ws(
            ":",
            *[F.floor(F.col(c) / F.lit(radius)).cast("long").cast("string")
              for c in coord_cols],
        ).alias("cell"),
    )

    offsets: list[list[int]] = [[]]
    for _ in range(d):
        offsets = [o + [s] for o in offsets for s in (-1, 0, 1)]
    shifted_keys = F.array(*[
        F.concat_ws(
            ":",
            *[(F.floor(F.col(c) / F.lit(radius)).cast("long") + F.lit(off[i])).cast("string")
              for i, c in enumerate(coord_cols)],
        )
        for off in offsets
    ])
    b = right.select(
        *right_cols,
        *[F.col(c).cast("double").alias(f"_rb_{c}") for c in coord_cols],
        F.explode(shifted_keys).alias("cell"),
    )

    dist2 = None
    for c in coord_cols:
        diff = F.col(f"_la_{c}") - F.col(f"_rb_{c}")
        t = diff * diff
        dist2 = t if dist2 is None else dist2 + t

    return (
        a.join(b, on="cell")
        .where(dist2 <= F.lit(float(radius) ** 2))
        .select(*left_cols, *right_cols)
    )


def reconcile_edges(
    existing: DataFrame, points: DataFrame, id_col: str,
    coord_cols: list[str], radius: float,
) -> tuple[DataFrame, DataFrame]:
    """(created, deleted) — the reference's continuous re-evaluation
    (``create_new_edges`` + ``update_existing_edges``,
    ``src/hoover.cpp:629-711``): after points move, which implicit
    edges appear and which no longer satisfy the predicate."""
    now = implicit_edges(points, id_col, coord_cols, radius).select("id_a", "id_b")
    before = existing.select("id_a", "id_b")
    created = now.join(before, on=["id_a", "id_b"], how="left_anti")
    deleted = before.join(now, on=["id_a", "id_b"], how="left_anti")
    return created, deleted
