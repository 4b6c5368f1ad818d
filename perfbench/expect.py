"""Remakes the corpus lake's stored expectation, `expected/corpus_lake.json`.

    python3 perfbench/expect.py

Runs `Pipeline.duckP01Sql` (p01's full corpus rebuild, written for DuckDB)
over every document of perfbench/data/documents.parquet and stores its rows
with the stamp they were computed from: the SHA-256 of the documents file
and of the SQL text. A lake_trickle run whose corpus or oracle SQL no longer
matches the stamp fails its check. The query takes about two minutes on 4
cores, which is why it is stored rather than run by every benchmark run.
"""
import json
import os
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True

import duckdb  # noqa: E402

import build  # noqa: E402
import check  # noqa: E402


def main():
    classes = build.build()
    sql = subprocess.run(
        ["java", "-cp", f"{classes}:{build.JARS}/*", "graft.perfbench.OracleSql"],
        check=True, stdout=subprocess.PIPE, text=True).stdout
    data = os.path.join(HERE, "data")
    con = duckdb.connect()
    con.execute("SET threads = 4")
    con.execute("CREATE VIEW documents AS SELECT * FROM "
                f"read_parquet('{data}/documents.parquet')")
    t0 = time.time()
    cols, rows = check.duck(con, sql)
    took = time.time() - t0
    with tempfile.NamedTemporaryFile("w", suffix=".sql") as f:
        f.write(sql)
        f.flush()
        stamp = check.stamp(data, f.name)
    os.makedirs(os.path.join(HERE, "expected"), exist_ok=True)
    with open(check.EXPECTED, "w") as f:
        json.dump(dict(stamp, columns=cols, rows=[list(r) for r in rows]), f)
        f.write("\n")
    print(f"{len(rows)} rows in {took:.1f} s -> {check.EXPECTED}")


if __name__ == "__main__":
    main()
