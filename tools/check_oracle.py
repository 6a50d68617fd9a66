"""Local stand-in for the driver's t2 correctness gate.

Runs each registry query on Spark AND its DuckDB oracle over the test tables
in SF_DIR (default sf0.01, the gate's scale factor), and compares row count,
column names, and an order-insensitive value hash (columns sorted by name,
rows sorted, values stringified with float rounding). The oracles are built
for SF_DIR, so the twin-backed ones hold at every scale factor.

    PYTHONPATH=. python tools/check_oracle.py [SF_DIR] [ENTRY,ENTRY,...]
"""

from __future__ import annotations

import hashlib
import math
import os
import sys

TABLES = [
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
]


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


def connect(sf_dir: str):
    """DuckDB connection with one view per raw test table in sf_dir."""
    import duckdb

    from cm_well_spark.session import host_memory

    # A quarter of the host's memory, beside a Spark driver that holds half.
    # No spill directory: past the limit DuckDB would spill to `.tmp/` under
    # the working directory, and max_temp_directory_size does not bound it
    # (an oracle whose CTE chain was inlined once wrote 19.6 GB there and
    # stopped only when the disk was full), so an oracle that outgrows the
    # cap fails with an out-of-memory error instead.
    con = duckdb.connect(config={"memory_limit": f"{host_memory() // 4 >> 20}MB", "temp_directory": ""})
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{os.path.join(sf_dir, t)}.parquet')")
    return con


def compare(spd, opd) -> str | None:
    """None when the Spark and oracle frames match, else what differs."""
    scols, ocols = sorted(spd.columns), sorted(opd.columns)
    if scols != ocols:
        return f"column mismatch spark={scols} oracle={ocols}"
    if len(spd) != len(opd):
        return f"row count spark={len(spd)} oracle={len(opd)}"
    if canon(spd.to_dict("records"), scols) == canon(opd.to_dict("records"), ocols):
        return None
    msg = f"value hash mismatch ({len(spd)} rows)"
    for i, (a, b) in enumerate(
        zip(
            sorted(map(str, spd.to_dict("records"))),
            sorted(map(str, opd.to_dict("records"))),
        )
    ):
        if a != b:
            return f"{msg}\n    first diff row {i}:\n      spark:  {a}\n      oracle: {b}"
    return msg


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = sys.argv[2].split(",") if len(sys.argv) > 2 else None

    from cm_well_spark.registry import oracle_sql, queries
    from cm_well_spark.session import get_spark

    spark = get_spark("oracle_check")
    con = connect(sf_dir)
    qs, osql = queries(), oracle_sql(sf_dir, names=only)
    failures = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            spd = fn(spark, sf_dir).toPandas()
            if name not in osql:
                print(f"  {name}: rows-only ({len(spd)} rows) [no oracle]")
                continue
            diff = compare(spd, con.execute(osql[name]).df())
            if diff:
                print(f"✗ {name}: {diff}")
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
