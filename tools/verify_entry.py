"""Local mirror of the driver's correctness gate: run every
``__spark_entry__.queries()`` entry on Spark and its ``oracle_sql()``
twin on DuckDB over the same parquet tables, and diff row count,
column names, and sorted values (exact — the driver value-hashes).

Usage: python tools/verify_entry.py [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import sys

import duckdb

sys.path.insert(0, ".")

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def norm_cell(v):
    """Typed canonical form — the driver hashes *typed* values, so a
    DuckDB HUGEINT (Decimal via Arrow) must NOT collapse to the same
    key as a Spark BIGINT (int). Each cell carries a type tag."""
    from decimal import Decimal

    if v is None:
        return "null"
    if isinstance(v, bool):
        return f"b:{v}"
    if isinstance(v, float):
        if math.isnan(v):
            return "f:nan"
        return f"f:{v:.9g}"
    if isinstance(v, Decimal):
        return f"dec:{v}"
    if isinstance(v, int):
        return f"i:{v}"
    if hasattr(v, "isoformat"):
        return f"t:{v.isoformat()}"
    return f"s:{v}"


def frame_key(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = sorted(tuple(norm_cell(r[i]) for i in order) for r in rows)
    return [cols[i] for i in order], out


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import __spark_entry__ as entry
    from hoover_spark.session import get_spark

    spark = get_spark(
        "verify_entry", extra_conf={"spark.ui.showConsoleProgress": "false"}
    )
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    qs = entry.queries()
    oracles = entry.oracle_sql()
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        import time
        t0 = time.time()
        try:
            df = fn(spark, sf_dir)
            spark_cols = df.columns
            spark_rows = [tuple(r) for r in df.collect()]
        except Exception as ex:
            print(f"FAIL {name}: spark error {type(ex).__name__}: {ex}", flush=True)
            failures.append(name)
            continue
        dt = time.time() - t0
        if name not in oracles:
            print(f"ok   {name}: rows-only ({len(spark_rows)} rows, {dt:.1f}s)", flush=True)
            if len(spark_rows) == 0:
                print(f"     WARNING: {name} returned 0 rows", flush=True)
            continue
        try:
            # Arrow fetch so DuckDB HUGEINT surfaces as Decimal (the
            # driver-visible type), not a silently-coerced Python int.
            tbl = con.execute(oracles[name]).fetch_arrow_table()
            ora_cols = tbl.column_names
            ora_rows = [tuple(d[c] for c in ora_cols) for d in tbl.to_pylist()]
        except Exception as ex:
            print(f"FAIL {name}: duckdb error {ex}", flush=True)
            failures.append(name)
            continue
        sc, sv = frame_key(spark_cols, spark_rows)
        oc, ov = frame_key(ora_cols, ora_rows)
        if sc != oc:
            print(f"FAIL {name}: columns {sc} vs {oc}", flush=True)
            failures.append(name)
            continue
        if len(sv) != len(ov):
            print(f"FAIL {name}: rowcount {len(sv)} vs {len(ov)}", flush=True)
            failures.append(name)
            continue
        if sv != ov:
            bad = [i for i, (a, b) in enumerate(zip(sv, ov)) if a != b]
            print(f"FAIL {name}: {len(bad)}/{len(sv)} rows differ; first: ", flush=True)
            for i in bad[:3]:
                print(f"  spark={sv[i]}", flush=True)
                print(f"  duck ={ov[i]}", flush=True)
            failures.append(name)
            continue
        print(f"ok   {name}: {len(sv)} rows match ({dt:.1f}s)", flush=True)

    print("\n== summary:", "ALL PASS" if not failures else f"FAILED: {failures}", flush=True)
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
