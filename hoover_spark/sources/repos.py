"""The engine's primary input: a source-code repository table
``repos(repo, path, commit, lang, content)`` and the edge-extraction
stage that turns it into the link graph.

This is the north-rule input shape (an Iceberg table of source-code
repositories at 10^12-file scale; plain Parquet stands in when no
Iceberg runtime is packaged — see :mod:`hoover_spark.sources.io`).
The reference's analogue of the generator is its seeded synthetic edge
stream (``test/connected_components.c:43-51``) and Kronecker tool
(``tools/generate_graph.c``); ours emits *source files whose content
embeds parseable cross-file references*, so the extracted edge set has
a closed form that tests can recompute independently.

Determinism: every column is a pure expression of the row index —
generation is fully distributed (``spark.range``), reproducible at any
parallelism, and scales to arbitrary row counts with no driver state.

Per-row invariant (north rule): ``sha2(content, 256)`` of the table as
read must equal the generator's recomputation — see
:func:`verify_content_sha256`.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, functions as F

#: deterministic lang assignment, ref count range, module fan.
_LANGS = ["py", "c", "java", "js"]
_N_MODULES = 13
_MAX_REFS = 3


def _lang_expr(i: Column) -> Column:
    return F.element_at(
        F.array(*[F.lit(l) for l in _LANGS]), (F.pmod(i * 11, F.lit(4)) + 1).cast("int")
    )


def _ext_expr(lang: Column) -> Column:
    return lang  # extension == lang tag for all four languages


def _module_expr(i: Column) -> Column:
    return F.concat(F.lit("m"), F.pmod(i, F.lit(_N_MODULES)).cast("string"))


def _name_expr(i: Column) -> Column:
    return F.concat(F.lit("f"), i.cast("string"))


def _target_index(i: Column, t: int, n_rows: int) -> Column:
    """t-th reference target of row i: j = (i*31 + 17*(t+1)) % N, +1 if self."""
    j = F.pmod(i * 31 + F.lit(17 * (t + 1)), F.lit(n_rows))
    return F.when(j == i, F.pmod(j + 1, F.lit(n_rows))).otherwise(j)


def _n_refs_expr(i: Column) -> Column:
    """0.._MAX_REFS references per file, hash-chosen."""
    return F.pmod(F.xxhash64(i, F.lit("refs")), F.lit(_MAX_REFS + 1))


def _import_line(lang: Column, tok_mod: Column, tok_name: Column, t: int) -> Column:
    """One cross-reference line in the *source* file's language."""
    dotted = F.concat(tok_mod, F.lit("."), tok_name)
    slashed = F.concat(tok_mod, F.lit("/"), tok_name)
    return (
        F.when(lang == "py", F.concat(F.lit("import "), dotted))
        .when(lang == "java", F.concat(F.lit("import "), dotted, F.lit(";")))
        .when(lang == "c", F.concat(F.lit('#include "'), slashed, F.lit('.h"')))
        .otherwise(
            F.concat(F.lit(f"const d{t} = require('"), slashed, F.lit("')"))
        )
    )


def _content_expr(i: Column, n_rows: int, pad_repeats: int = 1) -> Column:
    """Closed-form file body: header, 0-3 import lines, hash-derived pad.

    ``pad_repeats`` scales the comment-pad body (~64 chars per repeat)
    so benchmarks can generate realistically-sized source files (the
    default tiny pad keeps unit tests fast). Still a pure expression of
    the row index — determinism and the sha256 invariant hold at any
    size."""
    lang = _lang_expr(i)
    path = _path_expr(i)
    n_refs = _n_refs_expr(i)
    pieces: list[Column] = [F.concat(F.lit("// file "), path)]
    for t in range(_MAX_REFS):
        j = _target_index(i, t, n_rows)
        line = _import_line(lang, _module_expr(j), _name_expr(j), t)
        pieces.append(F.when(n_refs > t, F.concat(F.lit("\n"), line)).otherwise(F.lit("")))
    pad = F.substring(
        F.sha2(F.concat(F.lit("pad:"), i.cast("string")), 256),
        1,
        (F.pmod(i, F.lit(48)) + 8).cast("int"),
    )
    if pad_repeats > 1:
        pad = F.repeat(F.concat(pad, F.lit("\n// ")), pad_repeats)
    pieces.append(F.concat(F.lit("\n// "), pad, F.lit("\n")))
    return F.concat(*pieces)


def _path_expr(i: Column) -> Column:
    return F.concat(
        F.lit("src/"),
        _module_expr(i),
        F.lit("/"),
        _name_expr(i),
        F.lit("."),
        _ext_expr(_lang_expr(i)),
    )


def _repo_expr(i: Column) -> Column:
    return F.concat(
        F.lit("org"),
        F.pmod(i, F.lit(7)).cast("string"),
        F.lit("/repo"),
        F.pmod(i, F.lit(53)).cast("string"),
    )


def repos_table(
    spark: SparkSession,
    n_rows: int,
    num_partitions: int | None = None,
    pad_repeats: int = 1,
) -> DataFrame:
    """Generate ``repos(repo, path, commit, lang, content)`` — FIXTURES.md §1."""
    if num_partitions is None:
        # scale with BOTH the data volume and the session's parallelism —
        # a fixed floor of 8 under-splits a 32-core session (every core
        # beyond 8 idles through the generate+extract scan)
        num_partitions = max(
            2 * spark.sparkContext.defaultParallelism, n_rows // 500_000
        )
    rng = spark.range(n_rows, numPartitions=num_partitions)
    i = F.col("id")
    repo = _repo_expr(i)
    return rng.select(
        repo.alias("repo"),
        _path_expr(i).alias("path"),
        F.substring(
            F.sha2(F.concat(repo, F.lit(":"), i.cast("string")), 256), 1, 40
        ).alias("commit"),
        _lang_expr(i).alias("lang"),
        _content_expr(i, n_rows, pad_repeats).alias("content"),
    )


# ---------------------------------------------------------------------------
# per-row invariant: sha2(content) vs generator recomputation (north rule)
# ---------------------------------------------------------------------------

def verify_content_sha256(repos: DataFrame, n_rows: int, pad_repeats: int = 1) -> DataFrame:
    """Rows whose stored content hash differs from the generator's
    recomputation (row index recovered from ``path``). Empty ⇔ intact.

    Runs entirely JVM-side: recompute the content expression from the
    parsed index and compare ``sha2(·,256)`` — one scan, no shuffle.

    Call this on the table *as read from storage* (the north-rule
    semantics). Verifying an unmaterialized generated DataFrame fuses
    the generator's content expression AND this recomputation into one
    whole-stage-codegen span, which overflows janino's 64 KB method
    limit and silently falls back to interpreted evaluation."""
    i = F.regexp_extract("path", r"/f(\d+)\.", 1).cast("long")
    expected = F.sha2(_content_expr(i, n_rows, pad_repeats), 256)
    actual = F.sha2(F.col("content"), 256)
    return repos.select(
        "repo", "path", actual.alias("sha_actual"), expected.alias("sha_expected")
    ).where(F.col("sha_actual") != F.col("sha_expected"))


# ---------------------------------------------------------------------------
# vertex dictionary + edge extraction (stage E)
# ---------------------------------------------------------------------------

def vid_expr(repo: Column, path: Column) -> Column:
    """Stable 64-bit vertex id for a file: xxhash64(repo ':' path).

    The reference packs owner PE into the id (``inc/hvr_common.h:53-67``);
    we instead derive ownership as pmod(hash(vid), P) at shuffle time —
    Spark's HashPartitioner plays the role of VERTEX_ID_PE."""
    return F.xxhash64(F.concat(repo, F.lit(":"), path))


def file_vertices(repos: DataFrame) -> DataFrame:
    """(vid, repo, path, ref_token) — the vertex dictionary."""
    name = F.regexp_extract("path", r"/(f\d+)\.", 1)
    module = F.regexp_extract("path", r"src/(m\d+)/", 1)
    return repos.select(
        vid_expr(F.col("repo"), F.col("path")).alias("vid"),
        "repo",
        "path",
        F.concat(module, F.lit("/"), name).alias("ref_token"),
    )


#: per-language reference patterns (capture group 1 = the token).
_REF_PATTERNS = {
    "py": r"(?m)^import ([\w.]+)$",
    "java": r"(?m)^import ([\w.]+);$",
    "c": r'#include "([\w/]+)\.h"',
    "js": r"require\('([\w/]+)'\)",
}


def extract_refs(repos: DataFrame) -> DataFrame:
    """(src_repo, src_path, ref_token) via built-in ``regexp_extract_all``
    — the JVM/codegen fast path (no Python in the hot loop)."""
    toks = None
    for lang, pat in _REF_PATTERNS.items():
        branch = F.regexp_extract_all("content", F.lit(pat), 1)
        toks = (
            F.when(F.col("lang") == lang, branch)
            if toks is None
            else toks.when(F.col("lang") == lang, branch)
        )
    toks = toks.otherwise(F.array())
    return (
        repos.select(
            F.col("repo").alias("src_repo"),
            F.col("path").alias("src_path"),
            F.explode(toks).alias("raw_token"),
        )
        # normalize dotted (py/java) to slashed module/name form
        .select(
            "src_repo",
            "src_path",
            F.replace(F.col("raw_token"), F.lit("."), F.lit("/")).alias("ref_token"),
        )
    )


def ref_edges(repos: DataFrame) -> DataFrame:
    """The canonical link-graph edge table ``edges(src, dst)``.

    src = vid of the referencing file; dst = vid of the referenced file
    (resolved by joining the extracted token against the vertex
    dictionary — token → *every* file with that module/name, i.e. the
    same file appearing in several repos links them all, which is the
    cross-repo linking the reference-graph needs).

    The dictionary side is usually much smaller post-aggregation than
    the refs side; Catalyst broadcast-joins it when it fits. Both join
    inputs come out of generators/regex, so Catalyst has no stats and
    falls back to sort-merge — the SHUFFLE_HASH hint keeps the
    equi-join a hashed join (no per-side sort of millions of string
    tokens; AQE still upgrades to broadcast when runtime stats allow)."""
    refs = extract_refs(repos)
    verts = file_vertices(repos)
    dict_side = verts.select("ref_token", F.col("vid").alias("dst"))
    return (
        refs.select(
            vid_expr(F.col("src_repo"), F.col("src_path")).alias("src"), "ref_token"
        )
        .join(dict_side.hint("SHUFFLE_HASH"), on="ref_token")
        .select("src", "dst")
        .where(F.col("src") != F.col("dst"))
        .dropDuplicates(["src", "dst"])
    )


def candidate_targets(i: int, n_rows: int) -> list[int]:
    """Python mirror of :func:`_target_index` for all t — tests combine
    this with the per-row ref count parsed from generated content to
    recompute the closed-form edge set independently."""
    out = []
    for t in range(_MAX_REFS):
        j = (i * 31 + 17 * (t + 1)) % n_rows
        if j == i:
            j = (j + 1) % n_rows
        out.append(j)
    return out
