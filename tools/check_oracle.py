"""Local stand-in for the driver's t2 correctness gate.

Runs each registry query on Spark AND its DuckDB oracle at sf0.01, compares
row count, column names, and an order-insensitive value hash (columns sorted
by name, rows sorted, values stringified with float rounding).

    PYTHONPATH=. python tools/check_oracle.py [SF_DIR] [ENTRY,ENTRY,...]
"""

from __future__ import annotations

import hashlib
import math
import os
import sys


def canon(rows: list[dict], cols: list[str]) -> str:
    def cell(v):
        if v is None:
            return "∅"
        if isinstance(v, float):
            if math.isnan(v):
                return "nan"
            return f"{v:.6g}"
        return str(v)

    lines = sorted("|".join(cell(r[c]) for c in cols) for r in rows)
    return hashlib.md5("\n".join(lines).encode()).hexdigest()


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = sys.argv[2].split(",") if len(sys.argv) > 2 else None
    import duckdb

    from cm_well_spark.registry import oracle_sql, queries
    from cm_well_spark.session import get_spark, host_memory

    spark = get_spark("oracle_check")
    # A quarter of the host's memory, beside a Spark driver that holds half:
    # unbounded, the graph_kcore oracle took 12.5 GiB of a 15 GB host. No
    # spill directory: past the limit DuckDB would spill to `.tmp/` under
    # the working directory, where that oracle wrote 19.6 GB and stopped
    # only when the disk was full (max_temp_directory_size did not bound
    # it), so the query fails with an out-of-memory error instead.
    con = duckdb.connect(config={"memory_limit": f"{host_memory() // 4 >> 20}MB", "temp_directory": ""})
    for t in [
        "region",
        "nation",
        "customer",
        "supplier",
        "part",
        "orders",
        "lineitem",
        "events",
        "documents",
        "embeddings",
    ]:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{os.path.join(sf_dir, t)}.parquet')")

    qs, osql = queries(), oracle_sql()
    failures = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            sdf = fn(spark, sf_dir)
            spd = sdf.toPandas()
            if name not in osql:
                print(f"  {name}: rows-only ({len(spd)} rows) [no oracle]")
                continue
            opd = con.execute(osql[name]).df()
            scols, ocols = sorted(spd.columns), sorted(opd.columns)
            if scols != ocols:
                print(f"✗ {name}: column mismatch spark={scols} oracle={ocols}")
                failures += 1
                continue
            if len(spd) != len(opd):
                print(f"✗ {name}: row count spark={len(spd)} oracle={len(opd)}")
                failures += 1
                continue
            sh = canon(spd.to_dict("records"), scols)
            oh = canon(opd.to_dict("records"), ocols)
            if sh != oh:
                print(f"✗ {name}: value hash mismatch ({len(spd)} rows)")
                for i, (a, b) in enumerate(
                    zip(
                        sorted(map(str, spd.to_dict("records"))),
                        sorted(map(str, opd.to_dict("records"))),
                    )
                ):
                    if a != b:
                        print(f"    first diff row {i}:\n      spark:  {a}\n      oracle: {b}")
                        break
                failures += 1
            else:
                print(f"✓ {name}: {len(spd)} rows match")
        except Exception as e:  # noqa: BLE001
            print(f"✗ {name}: EXCEPTION {type(e).__name__}: {e}")
            failures += 1
    print(f"\n{'FAIL' if failures else 'OK'}: {failures} failures / {len(qs)} queries")
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
