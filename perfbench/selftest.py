#!/usr/bin/env python3
"""Self-test of the benchmark's correctness checks: each check must pass
on a real output and fail on a copy corrupted in one place.

    python3 perfbench/selftest.py [--seed 7]

It runs gmall_backlog and doc_ingest once each (short, outputs kept),
then for every corruption copies the output the check reads, changes one
value, and runs the check on the copy:
  - one ADS brand revenue off by a cent
  - one allocation line shifted by a cent
  - a second first-order flag for one customer
  - a DAU day missing a user
  - a planted near-copy surviving the near-dup claims
Exit status 0 only if every check passed clean and failed corrupted.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)
import checks  # noqa: E402
from gen import NEAR_COPY_OFFSET  # noqa: E402


def run_kept(workload, seed):
    p = subprocess.run([sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload,
                        "--seed", str(seed), "--seconds", "3", "--keep"],
                       cwd=ROOT, capture_output=True, text=True)
    if p.returncode != 0 or not json.loads(p.stdout.strip().splitlines()[-1])["correct"]:
        sys.exit(f"{workload} did not run clean:\n{p.stderr[-2000:]}")
    return os.path.join(BENCH, "work", f"{workload}-seed{seed}-trace0")


def read_all(d):
    files = sorted(os.path.join(r, f) for r, _, fs in os.walk(d) for f in fs if f.endswith(".parquet"))
    return pa.concat_tables([pq.read_table(f, partitioning=None) for f in files])


def write_copy(table, dest):
    shutil.rmtree(dest, ignore_errors=True)
    os.makedirs(dest)
    pq.write_table(table, os.path.join(dest, "part-0.parquet"))
    return dest


def bump(table, column, row, delta):
    vals = table.column(column).to_pylist()
    vals[row] = vals[row] + delta
    return table.set_column(table.schema.get_field_index(column), column,
                            pa.array(vals, type=table.schema.field(column).type))


def corruptions(gmall, docs, scratch):
    run, static = os.path.join(gmall, "run"), os.path.join(gmall, "static")
    out = lambda app: os.path.join(run, "out", app)

    def ads():
        src = out("ads_trademark")
        dest = os.path.join(scratch, "ads")
        shutil.rmtree(dest, ignore_errors=True)
        shutil.copytree(src, dest)
        last = max(int(c) for c in os.listdir(os.path.join(src, "_commits")) if c.isdigit())
        version = os.path.join(dest, f"v={last}")
        write_copy(bump(read_all(version), "revenue", 0, 0.01), version)
        return dest

    def alloc():
        t = read_all(out("dws_allocation")).filter(pc.greater_equal(pc.field("order_id"), 0))
        return write_copy(bump(t, "final_detail_amount", 0, 0.01), os.path.join(scratch, "alloc"))

    def first_order():
        t = read_all(os.path.join(out("dwd_first_order"), "flags"))
        flag = t.column("if_first_order").to_pylist()
        flag[flag.index("0")] = "1"  # a later order of a customer who has its flag already
        t = t.set_column(t.schema.get_field_index("if_first_order"), "if_first_order", pa.array(flag))
        return os.path.dirname(write_copy(t, os.path.join(scratch, "first_order", "flags")))

    def dau():
        t = read_all(out("dau")).filter(pc.less(pc.field("dt"), "2090-01-01"))
        return write_copy(bump(t, "dau", 0, -1), os.path.join(scratch, "dau"))

    def near_copy():
        con = checks.connect(os.path.join(docs, "run", "topics"))
        survivors = read_all(os.path.join(docs, "run", "out", "doc_survivors"))
        kept = set(survivors.column("doc_id").to_pylist())
        dropped = [d for (d,) in con.execute(
            f"SELECT doc_id FROM docs WHERE doc_id >= {NEAR_COPY_OFFSET} ORDER BY doc_id").fetchall()
            if d not in kept]
        assert dropped, "no planted near-copy was dropped"
        t = pa.concat_tables([survivors, pa.table({"doc_id": [dropped[0]]}, schema=survivors.schema)])
        return write_copy(t, os.path.join(scratch, "docs"))

    gcon = checks.connect(os.path.join(run, "topics"))
    dcon = checks.connect(os.path.join(docs, "run", "topics"))
    return [
        ("ads_trademark revenue off by a cent",
         lambda d: checks.check_ads(gcon, d, static), out("ads_trademark"), ads),
        ("dws_allocation line shifted a cent",
         lambda d: checks.check_allocation(gcon, d), out("dws_allocation"), alloc),
        ("dwd_first_order second flag for a customer",
         lambda d: checks.check_first_order(gcon, d), out("dwd_first_order"), first_order),
        ("dau day missing a user",
         lambda d: checks.check_dau(gcon, d), out("dau"), dau),
        ("doc_claims planted near-copy survives",
         lambda d: checks.check_docs(dcon, d, os.path.join(docs, "static")),
         os.path.join(docs, "run", "out", "doc_survivors"),
         near_copy),
    ]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, default=7)
    args = ap.parse_args()
    gmall = run_kept("gmall_backlog", args.seed)
    docs = run_kept("doc_ingest", args.seed)
    scratch = os.path.join(BENCH, "work", "selftest")
    ok = True
    for name, check, clean, corrupt in corruptions(gmall, docs, scratch):
        clean_fails = check(clean)
        corrupt_fails = check(corrupt())
        good = not clean_fails and bool(corrupt_fails)
        ok &= good
        print(f"{'ok  ' if good else 'FAIL'} {name}: clean {clean_fails or 'passes'}; "
              f"corrupted {corrupt_fails or 'PASSES'}")
    for d in (gmall, docs, scratch):
        shutil.rmtree(d, ignore_errors=True)
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
