"""Generate an sf1-scale dataset (~8.9M infotons) for scale-evidence runs.

The driver ships sf{0.001,0.01,0.1}; scale evidence at sf1 (VERDICT r5
item 7) needs the same shape 10x larger. This replicates the sf0.1 tables
with key-shifted replicas — every key domain is offset by `replica *
(max_key + 1)` so primary keys stay unique and every foreign key keeps
referential integrity. The fixed dimensions nation/region are copied
as-is (exactly like real TPC-H, where they are SF-invariant), so route
thresholds (broadcast caps, index-vs-doc) see realistic dim/fact ratios.

DuckDB does the replication (columnar, seconds); output parquet mirrors
/root/testdata layout so materialize()/bench.py work unchanged.

Usage: python tools/gen_sf1.py [src_dir] [out_dir] [replicas]
"""

from __future__ import annotations

import os
import sys

import duckdb

# (table, {column: stride-source-table}) — each listed column is shifted
# by replica * stride(source_table). Unlisted columns copy through.
SHIFTS = {
    "customer": {"c_custkey": "customer"},
    "supplier": {"s_suppkey": "supplier"},
    "part": {"p_partkey": "part"},
    "orders": {"o_orderkey": "orders", "o_custkey": "customer"},
    "lineitem": {"l_orderkey": "orders", "l_partkey": "part", "l_suppkey": "supplier"},
    "events": {"event_id": "events", "user_id": "customer"},
    "documents": {"doc_id": "documents"},
    "embeddings": {"vec_id": "embeddings"},
}
COPY_AS_IS = ["region", "nation"]
STRIDE_KEY = {  # primary key column per stride-source table
    "customer": "c_custkey",
    "supplier": "s_suppkey",
    "part": "p_partkey",
    "orders": "o_orderkey",
    "events": "event_id",
    "documents": "doc_id",
    "embeddings": "vec_id",
}


def generate(src_dir: str, out_dir: str, replicas: int = 10) -> None:
    os.makedirs(out_dir, exist_ok=True)
    con = duckdb.connect()
    strides = {
        t: con.execute(
            f"SELECT max({k}) + 1 FROM read_parquet('{src_dir}/{t}.parquet')"
        ).fetchone()[0]
        for t, k in STRIDE_KEY.items()
    }
    for t in COPY_AS_IS:
        con.execute(
            f"COPY (SELECT * FROM read_parquet('{src_dir}/{t}.parquet')) "
            f"TO '{out_dir}/{t}.parquet' (FORMAT PARQUET)"
        )
    for t, shifts in SHIFTS.items():
        cols = [
            r[0]
            for r in con.execute(
                f"DESCRIBE SELECT * FROM read_parquet('{src_dir}/{t}.parquet')"
            ).fetchall()
        ]
        proj = ", ".join(
            f"{c} + r.i * {strides[shifts[c]]} AS {c}" if c in shifts else c for c in cols
        )
        con.execute(
            f"COPY (SELECT {proj} FROM read_parquet('{src_dir}/{t}.parquet'), "
            f"range({replicas}) r(i)) TO '{out_dir}/{t}.parquet' (FORMAT PARQUET)"
        )
        n = con.execute(f"SELECT count(*) FROM read_parquet('{out_dir}/{t}.parquet')").fetchone()[0]
        print(f"{t}: {n} rows", flush=True)


if __name__ == "__main__":
    src = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    out = sys.argv[2] if len(sys.argv) > 2 else os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".sfgen", "sf1")
    reps = int(sys.argv[3]) if len(sys.argv) > 3 else 10
    generate(src, out, reps)
