#!/usr/bin/env python3
"""Regenerate the query sweep's list and its expected result digests.

    python3 etlbench/sweep/make_expected.py [--list-only]

Run from the root of a checkout, with ETLBENCH_SF_DIR set to the sf0.1
testdata directory. It

1. writes queries.tsv by the stated rule: from BENCH_r17_full.json, the
   queries under 1 s, sorted by name, every 4th from the first are
   `light`; the fixed HEAVY list is `heavy`;
2. runs the sweep once (etlbench/run.py --workload sweep), which also
   dumps SparkEntry.oracleSql for the listed queries;
3. runs every oracle in DuckDB, digests its result (digest.py) and writes
   expected.json. Each Spark result is digested too and the script says
   which queries match their oracle. Some oracles run for minutes.
"""
import json
import os
import subprocess
import sys
import time

import duckdb

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import digest  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(os.path.dirname(HERE))
HEAVY = ["q118", "q409", "q394", "q400", "q406", "q259", "q358", "q119",
         "q163", "q85", "q29", "q79", "q388"]
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
WORK = os.path.join(ROOT, ".bench_build", "etlbench")


def write_list():
    with open(os.path.join(ROOT, "BENCH_r17_full.json")) as f:
        times = json.load(f)["queries"]
    under = sorted(q for q, t in times.items() if t < 1.0)
    light = under[::4]
    heavy = sorted(q for q in times if q.split("_")[0] in HEAVY)
    assert len(heavy) == len(HEAVY), heavy
    with open(os.path.join(HERE, "queries.tsv"), "w") as f:
        for q in sorted(light):
            f.write(f"{q}\tlight\n")
        for q in heavy:
            f.write(f"{q}\theavy\n")
    print(f"{len(light)} light + {len(heavy)} heavy queries")
    return light + heavy


def main():
    names = write_list()
    if "--list-only" in sys.argv:
        return
    oracle_file = os.path.join(WORK, "oracle_sql.json")
    env = dict(os.environ, ETLBENCH_ORACLE_OUT=oracle_file)
    subprocess.run([sys.executable, "etlbench/run.py", "--workload", "sweep"],
                   cwd=ROOT, env=env, check=True)
    with open(oracle_file) as f:
        oracles = json.load(f)
    sf = os.environ["ETLBENCH_SF_DIR"]
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{sf}/{t}.parquet')")
    out = os.path.join(WORK, "work", "sweep", "out")
    expected, ok, bad = {}, 0, []
    for name in sorted(names):
        if name not in oracles:
            bad.append((name, "no oracle"))
            continue
        t0 = time.time()
        expected[name] = digest.digest_frame(con.execute(oracles[name]).df())
        got = digest.digest_parquet_dir(os.path.join(out, name))
        match = got == expected[name]
        ok += match
        if not match:
            bad.append((name, "spark result differs from the oracle"))
        print(f"{'OK  ' if match else 'DIFF'} {name} "
              f"(oracle {time.time() - t0:.1f} s)", flush=True)
    with open(os.path.join(HERE, "expected.json"), "w") as f:
        json.dump(expected, f, indent=1, sort_keys=True)
        f.write("\n")
    print(f"== {ok} match, {len(bad)} not: {bad} ==")


if __name__ == "__main__":
    main()
