"""Self-test of the output checks: a run whose written tables are corrupted
(one edge dropped) must be reported as failed.

- convert_corpus: one edge is dropped from the first op's
  cross_references; that op, and only that op, must fail the model check.
- query_mix: one edge is dropped from the database after the engine has
  answered; the reference SQL then counts other data, so at least the
  `statistics` call must fail in every cycle, on top of `node_tree`,
  which fails on any database with chains deeper than ten levels.

Usage: python3 perfbench/selftest.py [--seed 1]
"""
import argparse
import glob
import os
import sys

import duckdb

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import run  # noqa: E402


def drop_one_edge(db):
    """Rewrite a database's cross_references without its first row."""
    files = sorted(glob.glob(os.path.join(db, "cross_references",
                                          "*.parquet")))
    con = duckdb.connect()
    rows = con.execute(f"SELECT * FROM read_parquet({files!r})").arrow()
    for f in files:
        os.remove(f)
    con.register("t", rows.slice(1))
    con.execute(f"COPY t TO '{db}/cross_references/part-0.parquet' "
                "(FORMAT PARQUET)")
    return rows.num_rows


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--seed", type=int, default=1)
    a = ap.parse_args()
    ok = True

    r = run.run("convert_corpus", a.seed, 1, 0,
                corrupt=lambda work, res: drop_one_edge(res["ops"][0]["out"]))
    good = r["failed"] == 1 and r["attempted"] > 1
    print(f"convert_corpus, one edge dropped from op 0: "
          f"{r['failed']} of {r['attempted']} ops failed -> "
          f"{'PASS' if good else 'FAIL'}")
    ok &= good

    r = run.run("query_mix", a.seed, 1, 0,
                corrupt=lambda work, res: drop_one_edge(
                    os.path.join(work, "db")))
    cycles = r["attempted"] // 19
    good = r["failed"] >= 2 * cycles
    print(f"query_mix, one edge dropped from the database: "
          f"{r['failed']} of {r['attempted']} ops failed, "
          f"at least {2 * cycles} expected -> {'PASS' if good else 'FAIL'}")
    ok &= good
    print("selftest: " + ("PASS" if ok else "FAIL"))
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
