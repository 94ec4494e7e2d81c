#!/usr/bin/env python3
"""Times the DuckDB oracle suite — the exact SQL the correctness gate
runs — sequentially on one connection, so BENCH_r*.json carries its own
baseline and the spark-vs-DuckDB ratio is computed inside the artifact
instead of asserted in prose.

Usage: bench_oracle.py <sfdir> <oracle_sql.json>
Prints ONE JSON line: {"duckdb_wall_sec": ..., "n_queries": N, "errors": M}
(driver-side python env; the Scala library never depends on this.)
"""
import sys, json, time, glob, os
import duckdb

sfdir, oracle_path = sys.argv[1], sys.argv[2]
con = duckdb.connect()
for p in glob.glob(f"{sfdir}/*.parquet"):
    name = os.path.basename(p)[: -len(".parquet")]
    # a table may be a DIRECTORY of part files (multi-file layouts at
    # the big scale points — production row-group/file sizing)
    src = f"{p}/*.parquet" if os.path.isdir(p) else p
    con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{src}')")

oracle = json.load(open(oracle_path))

def run_suite():
    t0 = time.time()
    n, errs, per = 0, 0, {}
    for name in sorted(oracle):
        q0 = time.time()
        try:
            con.execute(oracle[name]).fetchall()
            n += 1
            per[name] = round(time.time() - q0, 3)
        except Exception as e:
            errs += 1
            print(f"[oracle] {name}: {e}", file=sys.stderr)
    return round(time.time() - t0, 3), n, errs, per

# two passes: the first pays parse/IO warmup, the second is the steady
# state — the ratio in the bench artifact uses the WARM (faster) wall,
# i.e. the comparison least favorable to the Spark engine. Per-query
# seconds are the MIN over both passes, mirroring the Spark side's
# seq_warm_par1_min2 methodology (round-10 advisory: discarding the
# cold pass's per-query dict tilted real_oracle_subset toward Spark).
cold, n, errs, per_cold = run_suite()
warm, _, _, per_warm = run_suite()
per = {k: min(per_cold.get(k, float("inf")), per_warm.get(k, float("inf")))
       for k in set(per_cold) | set(per_warm)}

print(json.dumps({"duckdb_wall_cold_sec": cold,
                  "duckdb_wall_warm_sec": min(cold, warm),
                  "queries_methodology": "per_query_min_of_2",
                  "n_queries": n, "errors": errs,
                  "queries": per}))
