#!/usr/bin/env python3
"""Regenerate perfbench/expected/outputs.json, cross-checked against DuckDB.

    python3 perfbench/tools/make_expected.py [--dump DIR]

Runs every benchmark query once on perfbench/data/sf0.01, dumps each result
as parquet, and records its row count and order-insensitive digest. Each
query that has an oracle (`SparkEntry.oracleSql`) is compared with DuckDB
running that SQL on the same parquet: same columns, same row count, equal
values in order. The okcupid_tree accuracy is pinned for seeds 0-39
(`Emit.pinnedSeeds`) at the local core count. The file is written only
when every oracle agrees; queries without an oracle are listed in it.
"""
import argparse
import json
import os
import shutil
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
import run  # noqa: E402  (perfbench/run.py: build and JVM launch)

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def compare(con, got_dir, sql):
    """Oracle comparison: 'match' or a reason."""
    got = con.sql(f"SELECT * FROM '{got_dir}/*.parquet'").df()
    exp = con.sql(sql).df()
    got = got.reindex(sorted(got.columns), axis=1).reset_index(drop=True)
    exp = exp.reindex(sorted(exp.columns), axis=1).reset_index(drop=True)
    if list(got.columns) != list(exp.columns):
        return f"columns {list(got.columns)} vs {list(exp.columns)}"
    if len(got) != len(exp):
        return f"rows {len(got)} vs {len(exp)}"
    for c in got.columns:
        # an integer against a float column reads 1234 vs 1234.0
        if (got[c].dtype.kind in "iu") != (exp[c].dtype.kind in "iu") and \
                {got[c].dtype.kind, exp[c].dtype.kind} & {"i", "u", "f"}:
            return f"dtype class of {c}: {got[c].dtype} vs {exp[c].dtype}"
    import pandas as pd
    try:
        pd.testing.assert_frame_equal(got, exp, check_dtype=False,
                                      check_exact=True)
    except AssertionError as e:
        return "values " + str(e).replace("\n", " | ")[:300]
    return "match"


def main(argv):
    p = argparse.ArgumentParser()
    p.add_argument("--dump", default=None)
    a = p.parse_args(argv)
    import duckdb

    data = os.path.join(run.HERE, "data", "sf0.01")
    dump = a.dump or tempfile.mkdtemp(prefix="perfbench-dump-")
    raw = os.path.join(dump, "emitted.json")
    cp = run.classpath()
    tmp = run.fresh_tmp()
    try:
        code, _ = run.run_group(
            run.java_cmd(cp, tmp, ["--emit", raw, "--dump", dump, "--data", data]),
            run.ROOT, 3600)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    if code != 0:
        raise SystemExit(f"emit failed with code {code}")
    emitted = json.load(open(raw))
    oracle = json.load(open(os.path.join(dump, "oracle_sql.json")))

    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'")
    bad = []
    for name, d in emitted["queries"].items():
        if name not in oracle:
            d["oracle"] = "none"
        else:
            d["oracle"] = compare(con, os.path.join(dump, name), oracle[name])
            if d["oracle"] != "match":
                bad.append(name)
        print(f"{name}: rows={d['rows']} oracle={d['oracle']}")
    if bad:
        raise SystemExit(f"oracle disagrees on {bad}; expected file not written")
    out = {
        "data": "sf0.01",
        "oracle": f"duckdb {duckdb.__version__} on SparkEntry.oracleSql",
        "no_oracle": sorted(n for n, d in emitted["queries"].items()
                            if d["oracle"] == "none"),
        "queries": emitted["queries"],
        "okcupid_tree": emitted["okcupid_tree"],
    }
    path = os.path.join(run.HERE, "expected", "outputs.json")
    with open(path, "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
        f.write("\n")
    print(f"wrote {path}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
