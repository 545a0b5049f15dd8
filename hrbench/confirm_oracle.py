#!/usr/bin/env python3
"""Confirm the pinned corpus answers against the DuckDB oracle.

Dumps every corpus query's answer on the generated corpus with the
program's own `graft.Verify` main, runs the matching `SparkEntry.oracleSql`
entry in DuckDB over the same parquet files, and compares the two frames
value for value (columns by name, rows in query order). It also checks that
the row counts pinned in corpus_expected.json match the dump. Queries with
no oracle entry are listed as such: their pinned answer rests on Spark
alone.

Usage: python3 hrbench/confirm_oracle.py     (from the repository root)
"""
import glob
import json
import os
import shutil
import subprocess
import sys

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import gen_corpus  # noqa: E402
import run  # noqa: E402


def canon(df):
    df = df[sorted(df.columns)]
    for c in df.columns:
        if str(df[c].dtype).startswith("datetime64"):
            df[c] = df[c].astype("datetime64[us]")
    return df.reset_index(drop=True)


def main():
    import duckdb
    import pandas as pd
    classes = build.build(quiet=True)
    work = os.path.join(HERE, "target", "oracle")
    shutil.rmtree(work, ignore_errors=True)
    corpus = os.path.join(work, "corpus")
    gen_corpus.generate(corpus)
    out = os.path.join(work, "dump")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    env = dict(os.environ, SPARK_GRAFT_ONLY=",".join(run.CORPUS_QUERIES),
               SPARK_GRAFT_CPUS=str(os.cpu_count()))
    cmd = (["java", "-Xmx3g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}"]
           + [x for p in run.JVM_OPENS
              for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
           + ["-cp", classes + os.pathsep + build.classpath(),
              "graft.Verify", corpus, out])
    with open(os.path.join(work, "verify.log"), "w") as log:
        subprocess.run(cmd, cwd=work, stdout=log, stderr=subprocess.STDOUT,
                       env=env, check=True)
    oracle = json.load(open(os.path.join(out, "oracle_sql.json")))
    pinned = json.load(open(run.CORPUS_EXPECTED))
    con = duckdb.connect()
    for t in ("region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"):
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{corpus}/{t}.parquet'")
    bad = 0
    for name in run.CORPUS_QUERIES:
        files = glob.glob(os.path.join(out, name, "*.parquet"))
        if not files:
            print(f"FAIL {name}: no Spark output")
            bad += 1
            continue
        got = canon(pd.concat([pd.read_parquet(f) for f in files]))
        status = []
        if len(got) != pinned.get(name, {}).get("rows"):
            status.append(f"pinned rows {pinned.get(name, {}).get('rows')}"
                          f" != dump rows {len(got)}")
        if name not in oracle:
            status.append("no oracle (rows-only)")
        else:
            exp = canon(con.sql(oracle[name]).df())
            try:
                pd.testing.assert_frame_equal(got, exp, check_dtype=False,
                                              check_exact=True)
            except AssertionError as e:
                status.append("oracle differs: " + str(e).splitlines()[-1])
        failed = [s for s in status if not s.startswith("no oracle")]
        bad += bool(failed)
        print(f"{'FAIL' if failed else 'PASS'} {name} rows={len(got)} "
              + "; ".join(status))
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
