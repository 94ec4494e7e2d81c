#!/usr/bin/env python3
"""Generates the x1000 lineitem table in four parquet LAYOUTS to
attribute the r15 x1000 scan-floor collapse (223 MB/s, 18.8x DuckDB;
a bare count(*) at 38 s) to a physical-layout cause:

  A  rg20k_1file    ROW_GROUP_SIZE 20000, single file  (r15 committed
                    layout: ~30,000 row groups in one ~11 GB file)
  B  rg122k_1file   ROW_GROUP_SIZE 122880 (DuckDB default), single file
  C  rg122k_multi   ROW_GROUP_SIZE 122880, FILE_SIZE_BYTES 512MB
                    (production-like: ~20 files, ~150 groups each)
  D  rg20k_multi    ROW_GROUP_SIZE 20000, FILE_SIZE_BYTES 512MB
                    (isolates per-FILE footer size from per-GROUP
                    decode cost: if Spark's slowdown is footer-parse-
                    per-split, D is mostly healthy; if it is per-group
                    reader setup, D stays slow)

Hypotheses the A/B discriminates (r15 footer-parse and scan timings
over these layouts are in SCANFLOOR.json):
  H1 footer-per-split: Spark parses the ENTIRE file footer once per
     input split (~89 splits x 30k-rowgroup thrift footer), DuckDB
     once per file -> A slow in Spark only, B/C/D healthy, and the
     direct ParquetFileReader footer-parse timing accounts for the gap.
  H2 per-row-group reader setup: 30k x vectorized-reader init -> A and
     D slow, B and C healthy.
  H3 neither (IO/heap pressure): all four comparable.

Usage: gen_layouts.py <src_sfdir> <dst_base> <factor>
Builds <dst_base>/rg20k_1file/lineitem.parquet (identical DATA to
gen_scale.py's output for lineitem, but in the r15 adversarial
single-file 20k-row-group layout — gen_scale.py itself now writes
122,880-row groups in <=512 MB files), then derives the other three
by rewriting that file.
(Driver-side python env: duckdb. The Scala library never depends on this.)
"""
import os
import sys

import duckdb

src, base, n = sys.argv[1], sys.argv[2], int(sys.argv[3])
con = duckdb.connect()
# stream the COPY instead of materializing the whole replicated table
# in memory first (the ordered COPY buffered ~100 GB for the 600 M-row
# cross join); replica order is irrelevant to every consumer — the
# correctness compare sorts, the bench scans
con.execute("SET preserve_insertion_order = false")
con.execute("SET memory_limit = '32GB'")

O = con.execute(
    f"SELECT max(o_orderkey) + 1 FROM read_parquet('{src}/orders.parquet')"
).fetchone()[0]

a_dir = f"{base}/rg20k_1file"
os.makedirs(a_dir, exist_ok=True)
a_file = f"{a_dir}/lineitem.parquet"
if not os.path.exists(a_file):
    q = (f"SELECT s.* REPLACE ((s.l_orderkey + t.i*{O}) AS l_orderkey) "
         f"FROM read_parquet('{src}/lineitem.parquet') s "
         f"CROSS JOIN range({n}) t(i)")
    con.execute(f"COPY ({q}) TO '{a_file}' (FORMAT PARQUET, ROW_GROUP_SIZE 20000)")
    print(f"A rg20k_1file: {os.path.getsize(a_file)/1e9:.2f} GB", file=sys.stderr)

derived = [
    ("rg122k_1file", "ROW_GROUP_SIZE 122880", False),
    ("rg122k_multi", "ROW_GROUP_SIZE 122880, FILE_SIZE_BYTES '512MB'", True),
    ("rg20k_multi", "ROW_GROUP_SIZE 20000, FILE_SIZE_BYTES '512MB'", True),
]
for name, opts, multi in derived:
    d = f"{base}/{name}"
    out = f"{d}/lineitem.parquet"  # a DIRECTORY of part files when multi
    if os.path.exists(out):
        continue
    os.makedirs(d, exist_ok=True)
    con.execute(f"COPY (SELECT * FROM read_parquet('{a_file}')) "
                f"TO '{out}' (FORMAT PARQUET, {opts})")
    sz = (sum(os.path.getsize(f"{out}/{f}") for f in os.listdir(out))
          if os.path.isdir(out) else os.path.getsize(out))
    nfiles = len(os.listdir(out)) if os.path.isdir(out) else 1
    print(f"{name}: {sz/1e9:.2f} GB in {nfiles} file(s)", file=sys.stderr)
print("layouts ready", file=sys.stderr)
