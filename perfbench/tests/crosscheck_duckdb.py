#!/usr/bin/env python3
"""Cross-check the committed suite expectations against DuckDB.

Recomputes, with plain SQL over the generated parquet tables, the value each
suite constraint compares and the verdict it implies, and checks both against
perfbench/expected/suite.tsv (outcome, and the figures quoted in the failure
messages of the constraints that fail by design). Needs the duckdb Python
module and the tables a benchmark run generates. Run from the repository root
after one benchmark run:

    python3 perfbench/tests/crosscheck_duckdb.py
"""
import glob
import os
import sys

import duckdb

ROOT = os.getcwd()


def main():
    dirs = glob.glob(os.path.join(ROOT, ".bench_build", "perfbench", "data-*"))
    dirs = [d for d in dirs if not d.endswith(".tmp")]
    if not dirs:
        sys.exit("no generated tables: run the benchmark once first")
    data = max(dirs, key=os.path.getmtime)
    con = duckdb.connect()
    for t in ["lineitem", "orders", "customer", "part", "supplier", "events"]:
        con.execute(f"create view {t} as select * from read_parquet('{data}/{t}.parquet/*.parquet')")

    def one(sql):
        return con.execute(sql).fetchone()

    rows = {}
    n, = one("select count(*) from lineitem")
    rows["r0c0"] = (n >= 1000, f"lineitem rows {n} >= 1000")
    nulls, = one("select count(*) - count(l_orderkey) from lineitem")
    rows["r0c1"] = (nulls == 0, f"l_orderkey nulls {nulls}")
    frac, = one("select (count(*) - count(l_suppkey)) / count(*) from lineitem")
    rows["r0c2"] = (frac <= 0.01, f"l_suppkey null fraction {frac}")
    bad, = one("select count(*) from lineitem where not regexp_full_match(l_returnflag, '[ANR]')")
    rows["r0c3"] = (bad == 0, f"l_returnflag mismatches {bad}")
    uniq, = one("select count(*) from (select distinct l_orderkey, l_linenumber from lineitem)")
    rows["r0c4"] = (uniq == n, f"has {n} rows > {uniq} uniques")
    mean, = one("select avg(o_totalprice) from orders")
    rows["r1c0"] = (abs(mean - 150000.0) <= 100000.0, f"has mean {mean:.6f}")
    fr = con.execute("select o_orderstatus, count(*) / sum(count(*)) over () from orders "
                     "group by 1 order by 1").fetchall()
    rows["r1c1"] = (all(0.3 <= f <= 0.37 for _, f in fr) and len(fr) == 3, f"status shares {fr}")
    fd, = one("select count(*) from (select o_orderkey from orders group by 1 "
              "having count(distinct o_custkey) > 1)")
    rows["r1c2"] = (fd == 0, f"order keys with several customers {fd}")
    cfrac, = one("select (count(*) - count(c_acctbal)) / count(*) from customer")
    rows["r2c0"] = (cfrac == 0, f"{cfrac} of customer[c_acctbal] values are NULL")
    blen, = one("select max(length(p_brand)) from part")
    rows["r3c0"] = (blen <= 8, f"max p_brand length {blen}")
    ns, = one("select count(*) from supplier")
    rows["r4c0"] = (ns <= 100, f"supplier rows {ns}")
    tmin, = one("select min(ts) from events")
    rows["r5c0"] = (str(tmin) >= "2024-01-01", f"min ts {tmin}")
    cols = "l_orderkey, l_linenumber, l_quantity"
    left, = one(f"select count(*) from (select {cols} from lineitem except "
                f"select {cols} from lineitem where l_quantity > 10)")
    right, = one(f"select count(*) from (select {cols} from lineitem where l_quantity > 10 "
                 f"except select {cols} from lineitem)")
    total, = one(f"select count(*) from (select {cols} from lineitem union "
                 f"select {cols} from lineitem where l_quantity > 10)")
    rows["r6c0"] = (left + right == 0, f"{(left + right) / total} > 0.0 of rows differ "
                                       f"({left} + {right} of {total} distinct rows)")
    orphans, = one("select count(*) from lineitem where l_orderkey not in (select o_orderkey from orders)")
    rows["r7c0"] = (orphans == 0, f"orphan line items {orphans}")

    expected = {}
    with open(os.path.join(ROOT, "perfbench", "expected", "suite.tsv")) as f:
        for line in f:
            a = line.rstrip("\n").split("\t")
            expected[a[0]] = (a[3] == "true", a[4] if len(a) > 4 else "")
    bad = 0
    for key in sorted(expected, key=lambda k: tuple(int(x) for x in k[1:].split("c"))):
        outcome, message = expected[key]
        duck_outcome, evidence = rows[key]
        ok = outcome == duck_outcome
        # a by-design failure must quote the figure DuckDB computed
        if not outcome:
            figure = evidence.split(" (")[0]
            ok = ok and figure in message
        bad += not ok
        print(f"{'OK ' if ok else 'BAD'} {key} expected={outcome} duckdb={duck_outcome}  {evidence}")
    if set(rows) != set(expected):
        print("constraint keys differ:", sorted(set(rows) ^ set(expected)))
        bad += 1
    print(f"{len(expected) - bad}/{len(expected)} agree with DuckDB {duckdb.__version__}")
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
