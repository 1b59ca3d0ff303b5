#!/usr/bin/env python3
"""Regenerates perfbench/pins.json, the expected row count and digest of
every board query.

    python3 perfbench/pin.py

Run from the repository root after changing the board query lists, the
board data generator or a query's intended result. It runs each board
twice with different seeds (so different query orders) and dumps the
first-pass results. A query is pinned only if

* both runs give the same digest, and
* when the query has DuckDB oracle SQL (``SparkEntry.oracleSql``), the
  dumped rows equal the oracle's rows over the same generated tables,
  compared on strict per-type canonical values as ``dev/check.py`` does.

Queries with no oracle (ANN, BPE, LPA, ...) are pinned on the two-run
agreement alone. Any disagreement aborts without writing pins.
"""
import json
import os
import shutil
import subprocess
import sys

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import run  # noqa: E402

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]


def canon(v):
    import datetime  # noqa: F401
    import decimal
    import math
    if isinstance(v, bool):
        return repr(v)
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    if isinstance(v, decimal.Decimal):
        return "DEC:" + str(v)
    if hasattr(v, "isoformat"):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(canon(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, canon(x)) for k, x in v.items()))
    return v


def dump(workload, seed, out):
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    r = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                        "--seed", str(seed), "--seconds", "1", "--trace", "0", "--dump", out],
                       capture_output=True, text=True)
    if not os.path.exists(os.path.join(out, "digests.json")):
        sys.exit(f"{workload}: run failed\n{r.stderr[-3000:]}")
    with open(os.path.join(out, "digests.json")) as f:
        return json.load(f)


def oracle_check(name, sql, data_dir, dumped):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
    rel = con.execute(sql)
    exp_cols = [c[0] for c in rel.description]
    exp = rel.fetchall()
    files = sorted(os.path.join(dumped, f) for f in os.listdir(dumped) if f.endswith(".parquet"))
    tbl = pa.concat_tables([pq.read_table(f) for f in files])
    got = tbl.to_pylist()
    if sorted(tbl.column_names) != sorted(exp_cols):
        return f"columns {sorted(tbl.column_names)} != oracle {sorted(exp_cols)}"
    if len(got) != len(exp):
        return f"rows {len(got)} != oracle {len(exp)}"
    cols = sorted(exp_cols)
    idx = [exp_cols.index(c) for c in cols]
    g = sorted((tuple(canon(r[c]) for c in cols) for r in got), key=repr)
    e = sorted((tuple(canon(r[i]) for i in idx) for r in exp), key=repr)
    for a, b in zip(g, e):
        if a != b:
            return f"row mismatch:\n  spark : {a}\n  oracle: {b}"
    return None


def main():
    root = os.getcwd()
    base = os.path.join(root, ".bench_build", "perfbench", "pin")
    pins, bad = {}, []
    for wl in ("board_sql", "board_llm"):
        a = dump(wl, 1, os.path.join(base, wl + "-a"))
        b = dump(wl, 2, os.path.join(base, wl + "-b"))
        with open(os.path.join(base, wl + "-a", "oracle.json")) as f:
            oracle = json.load(f)
        data_dir = run.board_data(os.path.join(root, ".bench_build", "perfbench"), run.BOARD_DATA[wl])
        for name in sorted(a):
            if a[name] != b.get(name):
                bad.append(f"{name}: two runs disagree: {a[name]} vs {b.get(name)}")
                continue
            how = "two-run agreement"
            if name in oracle:
                err = oracle_check(name, oracle[name], data_dir, os.path.join(base, wl + "-a", name))
                if err:
                    bad.append(f"{name}: oracle mismatch: {err}")
                    continue
                how = "DuckDB oracle + two-run agreement"
            pins[name] = dict(a[name], checked=how)
            print(f"  pinned {name}: rows={a[name]['rows']} ({how})")
    if bad:
        print("\n".join("NOT PINNED " + x for x in bad))
        sys.exit(1)
    with open(os.path.join(HERE, "pins.json"), "w") as f:
        json.dump(pins, f, indent=1, sort_keys=True)
        f.write("\n")
    print(f"wrote {len(pins)} pins")


if __name__ == "__main__":
    main()
