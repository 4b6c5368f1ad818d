"""Output checks computed apart from the engine, with DuckDB.

query_mix: each entry's result against `SparkEntry.oracleSql` run by DuckDB
over the same parquet inputs.
lake_trickle: the final corpus lake against the stored DuckDB full rebuild
(`expected/corpus_lake.json`, made by expect.py), whose stamp must match
the corpus and the oracle SQL; and `doc_id` must be unique in the lake.
(The GraftTable side of lake_trickle is checked in the JVM, against the
benchmark's own model of the table.)
Each checker is also fed wrong inputs (a perturbed row, a missing row, a
duplicated `doc_id`) and must reject them.
"""
import hashlib
import json
import math
import os

import duckdb
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def canon(cols, rows):
    """Columns sorted by name and rows sorted, as the oracle gate compares."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for r in rows:
        out.append(tuple("NaN" if isinstance(r[i], float) and math.isnan(r[i])
                         else r[i] for i in order))
    out.sort(key=lambda t: tuple((x is None, str(x)) for x in t))
    return sorted(cols), out


def compare(expected, got):
    """None when equal, else a description of the first difference."""
    (ec, er), (gc, gr) = expected, got
    if ec != gc:
        return f"columns differ: oracle {ec} result {gc}"
    if len(er) != len(gr):
        return f"row count: oracle {len(er)} result {len(gr)}"
    for x, y in zip(er, gr):
        if x != y:
            return f"first differing row: oracle {x} result {y}"
    return None


def read_result(path):
    t = pq.read_table(path)
    cols = t.column_names
    return cols, list(zip(*[t.column(c).to_pylist() for c in cols])) if cols else []


def duck(con, sql):
    res = con.execute(sql)
    return [c[0] for c in res.description], res.fetchall()


def perturbed(c):
    """The same result with one value of one row changed."""
    cols, rows = c
    r = list(rows[0])
    i = next((j for j, v in enumerate(r) if isinstance(v, (int, float, str))), 0)
    v = r[i]
    r[i] = v + "x" if isinstance(v, str) else (v + 1 if v is not None else 1)
    return cols, [tuple(r)] + rows[1:]


def selftests(name, expected, got):
    """The checker must reject one perturbed row and one missing row."""
    if not got[1]:
        return [(f"selftest:{name}", False, "no rows to perturb")]
    return [
        (f"selftest:{name}_perturbed_row",
         compare(expected, canon(*perturbed(got))) is not None,
         "checker accepted a perturbed row"),
        (f"selftest:{name}_missing_row",
         compare(expected, canon(got[0], got[1][1:])) is not None,
         "checker accepted a missing row"),
    ]


def check_query_mix(data, out):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data}/{t}.parquet')")
    with open(f"{out}/oracle.json") as f:
        oracle = json.load(f)
    results, tested = [], False
    for name, sql in sorted(oracle.items()):
        exp = canon(*duck(con, sql))
        got = read_result(f"{out}/results/{name}")
        err = compare(exp, canon(*got))
        results.append((f"oracle:{name}", err is None, err or ""))
        if not tested and err is None and got[1]:
            results += selftests("oracle", exp, got)
            tested = True
    return results


EXPECTED = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                        "expected", "corpus_lake.json")


def sha256(path):
    with open(path, "rb") as f:
        return hashlib.sha256(f.read()).hexdigest()


def stamp(data, sql_path):
    """What the stored expectation was computed from."""
    return {"corpus_sha256": sha256(f"{data}/documents.parquet"),
            "sql_sha256": sha256(sql_path)}


def duplicate_keys(rows, i):
    """None when column `i` is unique, else the first repeated value."""
    seen = set()
    for r in rows:
        if r[i] in seen:
            return f"doc_id {r[i]} appears twice"
        seen.add(r[i])
    return None


def check_corpus_lake(data, out):
    with open(EXPECTED) as f:
        stored = json.load(f)
    now = stamp(data, f"{out}/p01.sql")
    if any(stored[k] != v for k, v in now.items()):
        return [("expectation_stamp", False,
                 "the stored expectation was made from another corpus or "
                 "oracle; remake it with python3 perfbench/expect.py")]
    exp = canon(stored["columns"], [tuple(r) for r in stored["rows"]])
    got = read_result(f"{out}/results/corpus_lake")
    err = compare(exp, canon(*got))
    i = got[0].index("doc_id")
    dup = duplicate_keys(got[1], i)
    return [("expectation_stamp", True, ""),
            ("lake_equals_duckdb_rebuild", err is None, err or ""),
            ("lake_doc_id_unique", dup is None, dup or ""),
            ("selftest:doc_id_duplicated",
             duplicate_keys(got[1] + got[1][:1], i) is not None,
             "checker accepted a duplicated doc_id")] + selftests("lake", exp, got)


def run(workload, data, out):
    if workload == "query_mix":
        return check_query_mix(data, out)
    if workload == "lake_trickle":
        return check_corpus_lake(data, out)
    return []
