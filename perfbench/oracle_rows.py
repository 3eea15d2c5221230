#!/usr/bin/env python3
"""Cross-check the query_mix expected row counts against the DuckDB oracles.

    python3 perfbench/oracle_rows.py <corpus dir> <oracle json>

<corpus dir> is the `corpus/` directory a query_mix run generates (keep it by
running perfbench.Main with your own --work directory); <oracle json> maps each
query name to its oracle SQL (`graft.SparkEntry.oracleSql`). Prints each
query's oracle row count beside the count QueryMixWorkload expects. Needs the
`duckdb` Python package; the slowest oracle (mm_crossmodal_dedup) takes about
a minute and a half on 4 cores.
"""
import json
import re
import sys
import time

import duckdb


def expected_rows():
    src = open(__file__.replace("oracle_rows.py", "src/main/scala/perfbench/QueryMixWorkload.scala")).read()
    return {m.group(1): int(m.group(2)) for m in re.finditer(r'\("(\w+)", (-?\d+), Seq\(', src)}


def main():
    corpus, oracle_file = sys.argv[1], sys.argv[2]
    oracle = json.load(open(oracle_file))
    con = duckdb.connect()
    for t in ["part", "orders", "lineitem", "documents", "embeddings"]:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{corpus}/{t}.parquet/*.parquet'")
    bad = 0
    for q, want in expected_rows().items():
        sql = oracle.get(q)
        if sql is None:
            print(f"{q}: no oracle, expected {want}")
            continue
        t0 = time.time()
        got = len(con.sql(sql).fetchall())
        flag = "ok" if got == want else "DIFFERS"
        bad += got != want
        print(f"{q}: oracle {got}, expected {want} {flag} ({time.time() - t0:.1f} s)")
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
