#!/usr/bin/env python3
"""Pin the oracle digest the benchmark checks dedup_curate's output against.

    python3 perfbench/pin.py

Generates the fixed documents table, asks the harness for the
`SparkEntry.oracleSql` of `dedup_apply_cc`, runs it in DuckDB over the
same table and writes the order-independent digest to
perfbench/pinned.json. Needed only when gen.py (or the oracle) changes;
it takes well under a minute.
"""
import json
import os
import re
import shutil
import sys

import run
import stats


def materialized(sql):
    """The same query with every CTE materialized. This DuckDB inlines a
    CTE at each reference, and the oracle's connected-component rounds
    reference the previous round twice, so inlined the pair pipeline
    would run (and hold memory) once per path through the rounds."""
    return re.sub(r"\bAS \((?=\s*(SELECT|VALUES)\b)", "AS MATERIALIZED (", sql)


def main():
    os.makedirs(run.build_dir(), exist_ok=True)
    classes = run.build()
    data = run.inputs()
    work = os.path.join(run.build_dir(), "work", "pin")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    cores, heap_gb = run.host()
    sql = run.run_jvm(classes, "oracle_sql", data, work, 0, 0, 0, cores, heap_gb)["oracle_sql"]
    import duckdb
    # DuckDB would otherwise size itself to 80% of the host's memory
    con = duckdb.connect(config={"memory_limit": "4GB", "threads": "4",
                                 "temp_directory": os.path.join(work, "duckdb-tmp")})
    con.execute("CREATE VIEW documents AS SELECT * FROM "
                f"read_parquet('{os.path.join(data, 'documents.parquet')}')")
    digests = {}
    for key in sorted(sql):
        digests[key] = stats.digest(con.execute(materialized(sql[key])).fetchdf())
        run.log(f"{key}: {digests[key][:16]}")
    with open(run.PINNED, "w") as f:
        json.dump({"gen": run.gen_version(), "table_seed": run.TABLE_SEED,
                   "digests": digests}, f, indent=1, sort_keys=True)
        f.write("\n")


if __name__ == "__main__":
    sys.exit(main())
