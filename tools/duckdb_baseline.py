#!/usr/bin/env python3
"""Regenerate DUCKDB_BASELINE.json for the current oracle set.

Usage: python3 tools/duckdb_baseline.py <sfDir> <oracle_sql.json> [out.json]

Methodology (mirrors graft.Bench): single-threaded DuckDB, per query one cold
run then MIN of 3 warm runs. Run on an otherwise-idle box — same-box load
noise at sf0.1 is the same order as the measurement.
"""
import json, sys, time
import duckdb

def main():
    sf_dir, oracle_path = sys.argv[1], sys.argv[2]
    out_path = sys.argv[3] if len(sys.argv) > 3 else "DUCKDB_BASELINE.json"
    oracle = json.load(open(oracle_path))
    con = duckdb.connect()
    con.execute("SET threads TO 1")
    import os
    for t in ["region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"]:
        p = f"{sf_dir}/{t}.parquet"
        # a Spark-written table is a DIRECTORY of part files (the
        # graft.tools.Replicate pairing dirs); the generated testdata are single files
        if os.path.isdir(p):
            p = f"{p}/*.parquet"
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    times = {}
    for name, sql in sorted(oracle.items()):
        con.execute(sql).fetchall()  # cold
        best = float("inf")
        for _ in range(3):
            t0 = time.perf_counter()
            con.execute(sql).fetchall()
            best = min(best, time.perf_counter() - t0)
        times[name] = round(best, 4)
    out = {"sf": 0.1, "threads": 1,
           "methodology": "min of 3 warm runs per query (1 cold discarded); mirrors graft.Bench",
           "total_sec": round(sum(times.values()), 3), "queries": times}
    json.dump(out, open(out_path, "w"), indent=1)
    print(f"total {out['total_sec']}s over {len(times)} queries -> {out_path}")

if __name__ == "__main__":
    main()
