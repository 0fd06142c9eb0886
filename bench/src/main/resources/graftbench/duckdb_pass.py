"""DuckDB reference pass: the oracle SQL of each query on the same parquet
files. One untimed warm-up execution per query, then one timed execution;
prints the summed seconds of the timed executions as its last line.

Usage: python3 duckdb_pass.py <dataDir> <oracle.json> <tempDir>
"""
import json
import sys
import time

import duckdb

data, oracle_file, tmp = sys.argv[1:4]
oracle = json.load(open(oracle_file))
con = duckdb.connect()
con.execute("SET threads TO 4")
con.execute(f"SET temp_directory='{tmp}'")
for t in ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]:
    con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'")
total = 0.0
for name, sql in sorted(oracle.items()):
    con.execute(sql).fetchall()
    t0 = time.perf_counter()
    con.execute(sql).fetchall()
    total += time.perf_counter() - t0
print(total)
