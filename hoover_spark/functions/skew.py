"""Explicit skew handling: the salt column for two-stage aggregation.

The reference has *no* skew handling (SURVEY.md §4 O10): a high-degree
vertex simply grows a huge AVL row. At 100 TB a popular vertex (a file
referenced by everything) turns a ``groupBy(key).agg`` into one
straggler reducer. The classic fix — and what the north rule demands
explicitly — is the two-stage salted aggregate:

    stage 1: groupBy(key, salt)  — partial combine spread over S reducers
    stage 2: groupBy(key)        — merge the S partials

This composes with (does not replace) Spark's map-side partial
aggregation and AQE skew-join splitting; it matters when a single key's
*reduce-side* cardinality exceeds one task's capacity.
:func:`hoover_spark.operators.pagerank.pagerank` (``salt_buckets``)
runs its per-round gather this way over :func:`with_salt`.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def with_salt(df: DataFrame, salt_buckets: int, cols: list[str] | None = None) -> DataFrame:
    """Add a deterministic ``salt`` column in [0, salt_buckets).

    Derived from a hash of the *non-key* columns so identical rows land
    on stable salts (deterministic across retries — required for
    exactly-once resumable iteration)."""
    cols = cols or df.columns
    return df.withColumn(
        "salt", F.pmod(F.xxhash64(*[F.col(c) for c in cols]), F.lit(salt_buckets)).cast("int")
    )
