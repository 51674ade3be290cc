#!/usr/bin/env python3
"""Regenerate perfbench/expected.json: the benchmark's query set and the
digest each query's result must have.

    python3 perfbench/make_expected.py

The query set is every STRIDE-th declared query in name order, fixed here
so that a run's work does not depend on its seed. A query with oracle SQL
gets the digest of DuckDB's rows for that SQL over perfbench/data; a query
without one gets the digest of graft's own rows, which later runs must
reproduce. Any oracle query whose graft rows differ from DuckDB's is
printed; its expected digest stays DuckDB's.
"""
import json
import os
import random
import shutil

import duckdb

import digest
import run

STRIDE = 18


def main():
    sbt = run.read_build_sbt()
    cp = run.build(sbt)
    opts = run.jvm_options(sbt)
    work = os.path.join(run.build_dir(), "runs", "expected")
    shutil.rmtree(work, ignore_errors=True)
    surface = run.run_jvm(cp, opts, "export", os.path.join(work, "export"), [], 0)
    names = surface["queries"][::STRIDE]
    plan = run.query_plan(names, random.Random(0))
    result = run.run_jvm(cp, opts, "warm_mix", os.path.join(work, "main"), plan, 0)
    failed = [op["name"] for op in result["ops"] if not op["ok"]]

    con = duckdb.connect()
    for f in sorted(os.listdir(run.DATA)):
        con.sql("CREATE VIEW %s AS SELECT * FROM '%s'" % (f[:-8], os.path.join(run.DATA, f)))
    out = {}
    for name in names:
        rows_file = os.path.join(work, "main", "rows", name + ".json")
        got = digest.digest_file(rows_file) if os.path.exists(rows_file) else (None, 0)
        sql = surface["oracle"].get(name)
        if sql is None:
            out[name] = {"source": "graft", "digest": got[0], "rows": got[1]}
            continue
        rel = con.sql(sql)
        want = digest.digest(rel.columns, rel.fetchall())
        out[name] = {"source": "duckdb", "digest": want[0], "rows": want[1]}
        if got != want:
            print("MISMATCH %s: graft %s (%d rows) vs duckdb %s (%d rows)" % (
                name, got[0], got[1], want[0], want[1]))
    shutil.rmtree(work, ignore_errors=True)
    with open(os.path.join(run.HERE, "expected.json"), "w") as f:
        json.dump({"stride": STRIDE, "benchmark_queries": names, "digests": out}, f, indent=1,
                  sort_keys=True)
        f.write("\n")
    print("%d queries, %d with an oracle, failed: %s" % (
        len(names), sum(v["source"] == "duckdb" for v in out.values()), failed))


if __name__ == "__main__":
    main()
