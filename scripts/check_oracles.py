"""Simulate the driver's correctness gate locally: run every queries()
entry at sf0.01 next to its oracle_sql() in DuckDB and compare
row-count, schema width and order-insensitive values.  Each passing
query also prints a digest of its normalized rows (sorted, so the digest
is insensitive to row order): equal digests across two commits mean the
query returned the same rows on both.

Usage: python scripts/check_oracles.py [query ...]
"""

from __future__ import annotations

import hashlib
import math
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def norm(v):
    """Type-tagged string form: every value sorts against every other
    (nulls included), while cross-type drift (Spark long vs DuckDB double)
    still mismatches instead of coinciding at the same text."""
    if v is None:
        return "\x00null"
    if isinstance(v, bool):
        return f"b{int(v)}"
    if isinstance(v, float):
        return "fnan" if math.isnan(v) else f"f{v:.10g}"
    if isinstance(v, list):
        return tuple(norm(x) for x in v)
    if isinstance(v, int):
        return f"i{v}"
    if isinstance(v, str):
        return f"s{v}"
    return f"o{v}"  # datetimes etc: identical objects -> identical text


def digest(rows) -> str:
    """Order-insensitive digest of normalized rows (``rows`` is sorted)."""
    return hashlib.sha256(repr(rows).encode()).hexdigest()[:16]


def main():
    import __spark_entry__ as entrymod
    from vt_grid_spark.session import get_spark

    spark = get_spark("oracle-check", cores=8, shuffle_partitions=16)
    con = duckdb.connect()
    for t in TABLES:
        p = f"{SF_DIR}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    only = set(sys.argv[1:])
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        sdf = fn(spark, SF_DIR)
        srows = sdf.collect()
        scols = sdf.columns
        if name not in oracles:
            print(f"{name:28s} rows={len(srows):7d}  (no oracle — rows-only)")
            continue
        try:
            dres = con.execute(oracles[name])
            dcols = [d[0] for d in dres.description]
            drows = dres.fetchall()
        except Exception as e:
            print(f"{name:28s} ORACLE SQL ERROR: {e}")
            failures.append(name)
            continue
        ok = True
        if sorted(scols) != sorted(dcols):
            print(f"{name:28s} SCHEMA MISMATCH spark={scols} duck={dcols}")
            ok = False
        if len(srows) != len(drows):
            print(f"{name:28s} ROWCOUNT MISMATCH spark={len(srows)} duck={len(drows)}")
            ok = False
        if ok:
            order = sorted(range(len(scols)), key=lambda i: scols[i])
            dorder = sorted(range(len(dcols)), key=lambda i: dcols[i])
            sset = sorted(tuple(norm(r[i]) for i in order) for r in srows)
            dset = sorted(tuple(norm(r[i]) for i in dorder) for r in drows)
            if sset != dset:
                ndiff = sum(1 for a, b in zip(sset, dset) if a != b)
                print(f"{name:28s} VALUE MISMATCH ({ndiff} differing rows)")
                for a, b in list(zip(sset, dset))[:200]:
                    if a != b:
                        print("   spark:", a)
                        print("   duck :", b)
                        break
                ok = False
        if ok:
            print(f"{name:28s} OK rows={len(srows)} digest={digest(sset)}")
        else:
            failures.append(name)
    print()
    if failures:
        print("FAILED:", failures)
        sys.exit(1)
    print("all oracle checks passed")


if __name__ == "__main__":
    main()
