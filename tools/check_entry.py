"""Local stand-in for the driver's correctness gate: runs every
``__spark_entry__.queries()`` entry at sf0.01 and compares with its DuckDB
oracle — row count + column names + order-insensitive value hash (columns
sorted by name, rows sorted, values stringified). A query without an oracle
is a failure. Exits 1 on any failure.

Usage: python tools/check_entry.py [sf_dir] [query ...]
"""

from __future__ import annotations

import hashlib
import pathlib
import sys

sys.path.insert(0, str(pathlib.Path(__file__).resolve().parents[1]))

import duckdb

TABLES = ("documents",)


def value_hash(rows: list[tuple], cols: list[str]) -> str:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    canon = sorted(
        tuple(_norm(row[i]) for i in order) for row in rows
    )
    h = hashlib.sha256()
    for row in canon:
        h.update(("|".join(row) + "\n").encode("utf-8"))
    return h.hexdigest()[:16]


def _norm(v) -> str:
    if v is None:
        return "\\N"
    if isinstance(v, float):
        return f"{v:.6f}"
    if isinstance(v, bool):
        return str(int(v))
    return str(v)


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:]) or None

    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[8]")
        .appName("check_entry")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "512")
        .config("spark.sql.session.timeZone", "UTC")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    con = duckdb.connect()
    for t in TABLES:
        con.sql(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{sf_dir}/{t}.parquet')"
        )

    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        sdf = fn(spark, sf_dir)
        srows = sdf.collect()
        scols = sdf.columns
        if name not in oracles:
            failures += 1
            print(f"{name:34s} FAIL no oracle")
            continue
        ddf = con.sql(oracles[name])
        dcols = list(ddf.columns)
        drows = ddf.fetchall()
        ok_cols = sorted(scols) == sorted(dcols)
        ok_count = len(srows) == len(drows)
        sh = value_hash([tuple(r) for r in srows], scols)
        dh = value_hash(drows, dcols)
        ok_hash = sh == dh
        status = "OK " if (ok_cols and ok_count and ok_hash) else "FAIL"
        if status == "FAIL":
            failures += 1
        print(
            f"{name:34s} {status} rows {len(srows)}/{len(drows)} "
            f"cols={'=' if ok_cols else 'DIFF'} hash {sh}/{dh}"
        )
        if not ok_cols:
            print(f"    spark cols: {scols}\n    duck  cols: {dcols}")
        if ok_cols and ok_count and not ok_hash:
            # show first differing row for debugging
            order = sorted(range(len(scols)), key=lambda i: scols[i])
            sset = sorted(tuple(_norm(r[i]) for i in order) for r in srows)
            dset = sorted(tuple(_norm(r[i]) for i in order) for r in drows)
            for a, b in zip(sset, dset):
                if a != b:
                    print(f"    spark: {a}\n    duck : {b}")
                    break
    spark.stop()
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
