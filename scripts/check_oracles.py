"""Ad-hoc driver-style oracle check: run named harness queries on Spark AND
their DuckDB twins, compare sorted rows (the driver's hash-compare shape).

Usage: python scripts/check_oracles.py [sf_dir] [query ...]
Defaults: /root/testdata/sf0.001, all queries.
DuckDB's memory and spill limits come from DUCKDB_MEMORY_LIMIT (default
48GiB) and DUCKDB_MAX_TEMP_DIRECTORY_SIZE (default 60GiB); set them below
the host's RAM and free disk.
"""

import os
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import duckdb
from pyspark.sql import SparkSession

from logtemplatecrawler_spark.plans.harness import ORACLES, QUERIES

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def main() -> int:
    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    names = sys.argv[2:] or list(QUERIES)
    spark = (
        SparkSession.builder.master("local[4]")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    con = duckdb.connect()
    # quadratic twins (e.g. the within-cell semantic pair SQL) need room at
    # stress scale: let DuckDB spill to disk instead of dying in-memory
    con.execute("SET temp_directory='/tmp/duckdb_spill'")
    con.execute("SET max_temp_directory_size="
                f"'{os.environ.get('DUCKDB_MAX_TEMP_DIRECTORY_SIZE', '60GiB')}'")
    con.execute(f"SET memory_limit='{os.environ.get('DUCKDB_MEMORY_LIMIT', '48GiB')}'")
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf}/{t}.parquet')"
        )
    failed = []
    for name in names:
        try:
            sdf = QUERIES[name](spark, sf).toPandas()
            if name not in ORACLES:
                print(f"{name}: rows={len(sdf)} (no oracle)")
                continue
            odf = con.execute(ORACLES[name]).fetchdf()
            scols, ocols = sorted(sdf.columns), sorted(odf.columns)
            if scols != ocols:
                raise AssertionError(f"schema mismatch {scols} vs {ocols}")
            s = sdf[scols].sort_values(scols, ignore_index=True).astype(str)
            o = odf[ocols].sort_values(ocols, ignore_index=True).astype(str)
            ok = s.shape == o.shape and (s.values == o.values).all()
            print(f"{name}: rows={len(s)}/{len(o)} match={bool(ok)}")
            if not ok:
                failed.append(name)
        except Exception as exc:  # noqa: BLE001 — report and continue
            print(f"{name}: ERROR {type(exc).__name__}: {exc}")
            failed.append(name)
    if failed:
        print("FAILED:", failed)
        return 1
    print("all green")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
