"""Local stand-in for the driver's correctness gate.

Runs every __spark_entry__.queries() entry at a given sf and compares
against oracle_sql() via DuckDB: row count, column names (sorted) and an
order-insensitive multiset of stringified rows.

Usage: python tools/check_oracle.py [sf_dir] [query ...]
"""

from __future__ import annotations

import sys
from collections import Counter
from pathlib import Path

import duckdb

# certify THIS checkout's engine, wherever it lives
sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def norm(v):
    if isinstance(v, float):
        return f"{v:.9g}"
    if isinstance(v, bytes):
        return v.hex()
    return str(v)


def arrow_types(schema):
    """{col: normalized-type} for an Arrow schema. The driver hashes TYPED
    values, so a DuckDB HUGEINT (int128/decimal) vs Spark bigint mismatch
    fails there even when the stringified values agree — surface it here."""
    out = {}
    for f in schema:
        t = str(f.type)
        # Timestamp tz/units differ across engines but hash the same instant.
        if t.startswith("timestamp"):
            t = "timestamp"
        if t == "large_string":
            t = "string"
        # The driver's hash treats all machine ints alike (r01 green-lit
        # int32-vs-int64 columns) but NOT int128/decimal (HUGEINT fails it).
        if t in ("int8", "int16", "int32", "int64",
                 "uint8", "uint16", "uint32", "uint64"):
            t = "int"
        out[f.name] = t
    return out


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import __spark_entry__ as E
    from nerpii_spark.session import get_spark

    spark = get_spark(cores=8)
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"create view {t} as select * from '{sf_dir}/{t}.parquet'")

    qs, os_ = E.queries(), E.oracle_sql()
    unknown = only - set(qs)
    if unknown:
        print(f"ERROR: unknown query names: {sorted(unknown)}")
        return 2
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            sdf = fn(spark, sf_dir)
            srows = sdf.collect()
            scols = sorted(sdf.columns)
            s_multi = Counter(
                tuple(norm(r[c]) for c in scols) for r in srows
            )
            stypes = arrow_types(sdf.limit(0).toArrow().schema)
        except Exception as e:  # noqa: BLE001
            failures.append((name, f"spark error: {e}"))
            print(f"FAIL {name}: spark error: {e}")
            continue
        try:
            # one execution: rows AND schema from the same Arrow table
            tbl = con.sql(os_[name]).fetch_arrow_table()
            dcols_raw = tbl.column_names
            drows = [
                tuple(row[c] for c in dcols_raw) for row in tbl.to_pylist()
            ]
            order = sorted(range(len(dcols_raw)), key=lambda i: dcols_raw[i])
            dcols = sorted(dcols_raw)
            d_multi = Counter(tuple(norm(r[i]) for i in order) for r in drows)
            dtypes = arrow_types(tbl.schema)
        except Exception as e:  # noqa: BLE001
            failures.append((name, f"duckdb error: {e}"))
            print(f"FAIL {name}: duckdb error: {e}")
            continue
        problems = []
        if scols != dcols:
            problems.append(f"cols {scols} != {dcols}")
        tdiff = {
            c: (stypes.get(c), dtypes.get(c))
            for c in set(stypes) | set(dtypes)
            if stypes.get(c) != dtypes.get(c)
        }
        if tdiff:
            problems.append(f"types differ (spark, duck): {tdiff}")
        if len(srows) != len(drows):
            problems.append(f"rowcount {len(srows)} != {len(drows)}")
        if s_multi != d_multi:
            extra = list((s_multi - d_multi).items())[:3]
            missing = list((d_multi - s_multi).items())[:3]
            problems.append(f"values differ; spark-only={extra} oracle-only={missing}")
        if problems:
            failures.append((name, "; ".join(problems)))
            print(f"FAIL {name}: {'; '.join(problems)}")
        else:
            print(f"PASS {name} ({len(srows)} rows)")
    spark.stop()
    n_checked = len(only) if only else len(qs)
    print(f"\n{n_checked - len(failures)}/{n_checked} passed")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
