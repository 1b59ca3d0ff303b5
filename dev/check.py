#!/usr/bin/env python3
"""Local stand-in for the driver's DuckDB-oracle compare (t2).

Usage: python3 dev/check.py <verify_outdir> <sf_dir>
       python3 dev/check.py --same <verify_outdir_a> <verify_outdir_b>

Loads each <outdir>/<name>/ parquet written by graft.Verify via
PYARROW (native objects: Decimal stays Decimal), runs the matching
oracle SQL from <outdir>/oracle_sql.json in DuckDB over the same
fixture tables, sorts columns by name, and compares row-by-row on
STRICT per-type canonical strings (no cross-type coercion):
float -> repr, Decimal -> str, datetime -> isoformat. Round-1 lesson:
the driver's hash treats Decimal('123.40') and 123.4 as DIFFERENT —
output schemas must avoid DECIMAL (cast to DOUBLE at the end) so both
engines produce the same canonical text. Dev tool only — the shipped
Scala library never depends on this.

--same compares two Verify output directories (e.g. before and after a
refactor that must not change results): every query must have the same
schema and the same rows in the same order, and both oracle_sql.json
files must be equal as parsed JSON. Decoded values are compared, not
parquet bytes: the footer's encoding-list order can differ between two
writes of the same data.
"""
import glob
import json
import os
import sys

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]


def canon(v):
    import datetime
    import decimal
    import math
    if isinstance(v, bool):
        return repr(v)
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    if isinstance(v, decimal.Decimal):
        return "DEC:" + str(v)  # tagged: a Decimal never equals a float
    if hasattr(v, "isoformat"):  # datetime/date/pandas Timestamp
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(canon(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, canon(x)) for k, x in v.items()))
    return v


# Oracle output columns must stay inside this set: the driver's hash is
# type-tagged, so a DuckDB-only type (HUGEINT from sum(int), DECIMAL,
# UHUGEINT...) hash-mismatches Spark even when every value agrees — the
# r8 q_x_label_noise lesson. Lists of these scalars are fine (both
# engines canonicalize element-wise).
ALLOWED_TYPES = {"BIGINT", "INTEGER", "DOUBLE", "VARCHAR", "BOOLEAN",
                 "DATE", "TIMESTAMP"}


def type_ok(t: str) -> bool:
    t = t.strip().upper()
    if t.endswith("[]"):  # list type, e.g. BIGINT[]
        return type_ok(t[:-2])
    return t in ALLOWED_TYPES


def audit_types(con, oracle) -> int:
    """DESCRIBE every oracle and reject engine-specific output types.
    Returns the number of violating (query, column) pairs."""
    n_bad = 0
    for name, sql in sorted(oracle.items()):
        try:
            desc = con.execute(f"DESCRIBE {sql}").fetchall()
        except Exception as e:
            print(f"TYPE-AUDIT FAIL {name}: DESCRIBE error: {e}")
            n_bad += 1
            continue
        for colname, coltype, *_ in desc:
            if not type_ok(coltype):
                print(f"TYPE-AUDIT FAIL {name}: column {colname} is "
                      f"{coltype} (allowed: {sorted(ALLOWED_TYPES)}[+[]])")
                n_bad += 1
    return n_bad


def load(outdir, name):
    import pyarrow as pa
    import pyarrow.parquet as pq
    files = sorted(glob.glob(f"{outdir}/{name}/*.parquet"))
    return pa.concat_tables([pq.read_table(f) for f in files]) if files else None


def main(outdir, sfdir):
    con = duckdb.connect()
    for t in TABLES:
        p = f"{sfdir}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    with open(f"{outdir}/oracle_sql.json") as f:
        oracle = json.load(f)

    qdirs = sorted(d for d in os.listdir(outdir)
                   if os.path.isdir(os.path.join(outdir, d)))
    n_pass = n_fail = n_noracle = 0
    # a query that THREW in Verify writes nothing and would silently
    # vanish from the walk below — flag every oracle'd name with no dump
    for name in sorted(set(oracle) - set(qdirs)):
        print(f"FAIL {name}: declared oracle but Verify wrote no output (query threw?)")
        n_fail += 1
    for name in qdirs:
        tbl = load(outdir, name)
        if tbl is None:
            print(f"FAIL {name}: no parquet output")
            n_fail += 1
            continue
        got_cols = list(tbl.column_names)
        got = tbl.to_pylist()
        if name not in oracle:
            print(f"  -  {name}: no-oracle, rows={len(got)}")
            n_noracle += 1
            continue
        try:
            exp_rel = con.execute(oracle[name])
            exp_cols = [c[0] for c in exp_rel.description]
            exp = exp_rel.fetchall()
        except Exception as e:
            print(f"FAIL {name}: oracle SQL error: {e}")
            n_fail += 1
            continue
        if sorted(got_cols) != sorted(exp_cols):
            print(f"FAIL {name}: columns spark={sorted(got_cols)} oracle={sorted(exp_cols)}")
            n_fail += 1
            continue
        if len(got) != len(exp):
            print(f"FAIL {name}: rows spark={len(got)} oracle={len(exp)}")
            n_fail += 1
            continue
        cols = sorted(got_cols)
        eperm = [exp_cols.index(c) for c in cols]
        bad = None
        for i, (gr, er) in enumerate(zip(got, exp)):
            g = tuple(canon(gr[c]) for c in cols)
            e = tuple(canon(er[j]) for j in eperm)
            if g != e:
                bad = (i, g, e)
                break
        if bad:
            i, g, e = bad
            print(f"FAIL {name}: row {i}\n  spark : {g}\n  oracle: {e}")
            n_fail += 1
        else:
            print(f"  ok {name}: rows={len(got)}")
            n_pass += 1
    n_type_bad = audit_types(con, oracle)
    print(f"\n{n_pass} pass, {n_fail} fail, {n_noracle} no-oracle, "
          f"{n_type_bad} type-audit violations")
    return 1 if (n_fail or n_type_bad) else 0


def same(out_a, out_b):
    """Exit status 0 iff both Verify outputs hold the same results."""
    n_diff = 0
    oracles = []
    for out in (out_a, out_b):
        with open(f"{out}/oracle_sql.json") as f:
            oracles.append(json.load(f))
    if oracles[0] != oracles[1]:
        a, b = oracles
        keys = sorted(k for k in set(a) | set(b) if a.get(k) != b.get(k))
        print(f"DIFF oracle_sql.json: {len(keys)} keys differ")
        for k in keys:
            print(f"  key {k}")
        n_diff += 1
    names = set()
    for out in (out_a, out_b):
        names |= {d for d in os.listdir(out) if os.path.isdir(os.path.join(out, d))}
    # an oracle'd query that threw in Verify leaves no directory on either side
    for name in sorted(set(oracles[0]) | set(oracles[1])):
        if name not in names:
            print(f"DIFF {name}: declared oracle but no output on either side")
            n_diff += 1
    for name in sorted(names):
        ta, tb = load(out_a, name), load(out_b, name)
        if ta is None or tb is None:
            empty = [out for out, t in ((out_a, ta), (out_b, tb)) if t is None]
            print(f"DIFF {name}: no parquet output in {', '.join(empty)}")
            n_diff += 1
        elif not ta.schema.equals(tb.schema):
            print(f"DIFF {name}: schema\n  a: {ta.schema}\n  b: {tb.schema}")
            n_diff += 1
        else:
            cols = ta.column_names
            ra = [tuple(canon(r[c]) for c in cols) for r in ta.to_pylist()]
            rb = [tuple(canon(r[c]) for c in cols) for r in tb.to_pylist()]
            if ra != rb:
                i = next((i for i, (x, y) in enumerate(zip(ra, rb)) if x != y),
                         min(len(ra), len(rb)))
                print(f"DIFF {name}: rows a={len(ra)} b={len(rb)}, first difference at row {i}")
                n_diff += 1
    print(f"\n{len(names)} queries compared, {len(oracles[0])} oracle entries, "
          f"{n_diff} differences")
    return 1 if n_diff else 0


if __name__ == "__main__":
    if sys.argv[1] == "--same":
        sys.exit(same(sys.argv[2], sys.argv[3]))
    sys.exit(main(sys.argv[1], sys.argv[2]))
