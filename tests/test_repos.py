"""repos source table: determinism, sha256 invariant, edge extraction."""

import re

from pyspark.sql import functions as F

from hoover_spark.sources import repos as R

N = 300


def _table(spark):
    return R.repos_table(spark, N, num_partitions=4).persist()


def test_schema_and_counts(spark):
    t = _table(spark)
    assert t.columns == ["repo", "path", "commit", "lang", "content"]
    assert t.count() == N
    assert t.select("path").distinct().count() == N
    langs = {r["lang"] for r in t.select("lang").distinct().collect()}
    assert langs == {"py", "c", "java", "js"}


def test_deterministic_across_parallelism(spark):
    a = R.repos_table(spark, N, num_partitions=2).orderBy("path").collect()
    b = R.repos_table(spark, N, num_partitions=16).orderBy("path").collect()
    assert a == b


def test_sha256_invariant_roundtrip(spark, tmp_path):
    p = str(tmp_path / "repos")
    R.repos_table(spark, N).write.parquet(p)
    back = spark.read.parquet(p)
    assert R.verify_content_sha256(back, N).count() == 0


def test_sha256_invariant_detects_corruption(spark):
    t = _table(spark)
    corrupted = t.withColumn(
        "content",
        F.when(F.col("path").contains("/f7."), F.concat(F.col("content"), F.lit("X")))
        .otherwise(F.col("content")),
    )
    assert R.verify_content_sha256(corrupted, N).count() == 1


def _python_edge_oracle(rows):
    """Independently parse generated content with python re + resolve
    tokens → row indices; returns set of (src_i, dst_j)."""
    pats = {k: re.compile(v) for k, v in R._REF_PATTERNS.items()}
    idx_of_path = {}
    for r in rows:
        i = int(re.search(r"/f(\d+)\.", r["path"]).group(1))
        idx_of_path[r["path"]] = i
    tok_to_idx = {}
    for r in rows:
        i = idx_of_path[r["path"]]
        tok_to_idx[f"m{i % R._N_MODULES}/f{i}"] = i
    pairs = set()
    for r in rows:
        i = idx_of_path[r["path"]]
        for tok in pats[r["lang"]].findall(r["content"]):
            j = tok_to_idx[tok.replace(".", "/")]
            if i != j:
                pairs.add((i, j))
    return pairs


def test_extraction_matches_python_oracle(spark):
    t = _table(spark)
    rows = t.collect()
    want = _python_edge_oracle(rows)

    verts = R.file_vertices(t)
    vid_to_idx = {
        r["vid"]: int(re.search(r"/f(\d+)\.", r["path"]).group(1))
        for r in verts.collect()
    }
    got = {
        (vid_to_idx[r["src"]], vid_to_idx[r["dst"]])
        for r in R.ref_edges(t).collect()
    }
    assert got == want
    # every candidate target obeys the closed-form formula
    cand = {i: set(R.candidate_targets(i, N)) for i, _ in want}
    for i, j in want:
        assert j in cand[i]


def test_vids_unique(spark):
    t = _table(spark)
    v = R.file_vertices(t)
    assert v.select("vid").distinct().count() == N
