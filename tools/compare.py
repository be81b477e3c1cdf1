#!/usr/bin/env python3
"""Local mimic of the driver's DuckDB-oracle correctness gate.

Usage: python3 tools/compare.py <sfDir> <verifyOutDir> [--fork] [--only a,b,c]
Loads each <name>/ parquet written by graft.Verify, runs the matching SQL from
oracle_sql.json in DuckDB (tables = parquet files in sfDir), sorts columns by
name and rows by all columns, and diffs values.

--fork: run each query in a forked child process with its own DuckDB
connection — at replicated scales an unrolled training-replay oracle can
allocate past memory_limit (observed 130 GB RSS at 32k vectors); a kernel
OOM kill must be a recorded DNF for that one query, not the death of the
whole suite pass. Same convention as tools/bench_scale.py.
--only a,b,c: restrict to the named queries.

TYPE-FAITHFUL (round 12): the driver's hash is computed over the typed values,
so this mimic must reject type drift that float-coercion used to mask:
  1. Any oracle column whose DuckDB declared type is HUGEINT/UHUGEINT/DECIMAL
     is a hard FAIL — DuckDB widens e.g. sum(BIGINT) to HUGEINT; the oracle
     SQL must CAST such columns explicitly (a summed squared-distance column
     left as HUGEINT once failed the driver's hash exactly this way).
  2. An integer-kind column on one side vs a float-kind column on the other is
     a hard FAIL (1 vs 1.0 hashes differently in the driver).
Other representational kind differences (e.g. date32->object vs datetime64)
are value-compared as before but flagged with a NOTE so they're visible.
"""
import argparse
import json, sys, glob, os
import duckdb
import numpy as np
import pandas as pd

WIDENED = ("HUGEINT", "UHUGEINT", "DECIMAL")

_p = argparse.ArgumentParser(description=__doc__)
_p.add_argument("sf_dir")
_p.add_argument("out_dir")
_p.add_argument("--fork", action="store_true")
_p.add_argument("--only", default=None,
                help="comma-separated query names to restrict to")
_a = _p.parse_args()
fork_mode = _a.fork
only = set(_a.only.split(",")) if _a.only else None
sf_dir, out_dir = _a.sf_dir, _a.out_dir


def connect():
    con = duckdb.connect()
    for p in glob.glob(f"{sf_dir}/*.parquet"):
        name = os.path.basename(p).replace(".parquet", "")
        src = f"{p}/*.parquet" if os.path.isdir(p) else p  # Spark dir layout
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{src}'")
    return con


def kind(dtype):
    """Collapse a pandas dtype to a comparison kind: i(nt), f(loat), b(ool),
    M (datetime), O (everything else: strings, lists, dates-as-object)."""
    k = dtype.kind
    if k in "iu":
        return "i"
    if k in "fc":
        return "f"
    return k


def compare_one(con, name, sql):
    """Returns (ok: bool, message: str). Prints NOTEs as a side effect."""
    try:
        got = pd.read_parquet(f"{out_dir}/{name}")
    except Exception as e:
        return False, f"spark output missing: {e}"
    try:
        rel = con.sql(sql)
        duck_types = dict(zip(rel.columns, [str(t).upper() for t in rel.types]))
        exp = rel.df()
    except Exception as e:
        return False, f"oracle sql error: {e}"

    # 1. widened DuckDB declared types are a driver-hash divergence: hard fail
    widened = [f"{c}:{t}" for c, t in duck_types.items()
               if any(t.startswith(w) for w in WIDENED)]
    if widened:
        return False, (f"oracle emits widened type(s) {widened} — add an "
                       f"explicit CAST in the oracle SQL (driver hash is "
                       f"type-faithful and will reject this)")

    got = got.reindex(sorted(got.columns), axis=1)
    exp = exp.reindex(sorted(exp.columns), axis=1)
    if list(got.columns) != list(exp.columns):
        return False, (f"columns differ: spark={list(got.columns)} "
                       f"oracle={list(exp.columns)}")

    # 2. int-vs-float kind drift is a driver-hash divergence: hard fail
    for c in got.columns:
        gk, ek = kind(got[c].dtype), kind(exp[c].dtype)
        if gk != ek:
            if {gk, ek} == {"i", "f"}:
                return False, (f"col {c}: dtype kind mismatch spark={got[c].dtype} "
                               f"oracle={exp[c].dtype} (duck type "
                               f"{duck_types.get(c)}) — int vs float hashes "
                               f"differently in the driver; align the types")
            print(f"NOTE {name}: col {c} repr-kind differs "
                  f"(spark={got[c].dtype}, oracle={exp[c].dtype}); value-compared",
                  flush=True)

    got = got.sort_values(by=list(got.columns)).reset_index(drop=True)
    exp = exp.sort_values(by=list(exp.columns)).reset_index(drop=True)
    if len(got) != len(exp):
        return False, f"row count: spark={len(got)} oracle={len(exp)}"

    for c in got.columns:
        g, e = got[c], exp[c]
        try:
            if kind(g.dtype) == "f" and kind(e.dtype) == "f":
                ga, ea = g.astype(float).values, e.astype(float).values
                bad = np.where(np.isnan(ga) & np.isnan(ea), False, ga != ea)
                if bad.any():
                    i = int(np.argmax(bad))
                    return False, f"col {c} row {i}: spark={ga[i]} oracle={ea[i]}"
            else:
                ga = g.astype(object).where(pd.notna(g), None)
                ea = e.astype(object).where(pd.notna(e), None)
                neq = [i for i, (x, y) in enumerate(zip(ga, ea)) if x != y]
                if neq:
                    i = neq[0]
                    return False, f"col {c} row {i}: spark={ga[i]!r} oracle={ea[i]!r}"
        except Exception as ex:
            return False, f"col {c}: compare error {ex}"
    return True, f"({len(got)} rows)"


oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
items = [(n, s) for n, s in sorted(oracle.items())
         if only is None or n in only]

fails = []
if not fork_mode:
    con = connect()
    for name, sql in items:
        ok, msg = compare_one(con, name, sql)
        if ok:
            print(f"OK   {name} {msg}", flush=True)
        else:
            fails.append((name, msg))
else:
    # child per query: connect AFTER fork (forking a live multithreaded
    # native DuckDB connection is unsupported); result via exit status +
    # message pipe, an OOM-killed child records as DNF
    for name, sql in items:
        r, w = os.pipe()
        pid = os.fork()
        if pid == 0:
            os.close(r)
            try:
                ok, msg = compare_one(connect(), name, sql)
            except Exception as e:
                ok, msg = False, f"compare crashed: {e}"
            os.write(w, msg.encode()[:4096])
            os.close(w)
            os._exit(0 if ok else 1)
        os.close(w)
        msg = b""
        while True:
            chunk = os.read(r, 4096)
            if not chunk:
                break
            msg += chunk
        os.close(r)
        _, status = os.waitpid(pid, 0)
        text = msg.decode(errors="replace")
        if os.WIFEXITED(status) and os.WEXITSTATUS(status) == 0:
            print(f"OK   {name} {text}", flush=True)
        elif os.WIFEXITED(status):
            fails.append((name, text or f"exit {os.WEXITSTATUS(status)}"))
        else:
            fails.append((name, f"DNF: child killed (status {status}) — "
                                f"likely OOM in the oracle"))

for name, why in fails:
    print(f"FAIL {name}: {why}")
print(f"\n{len(items)-len(fails)}/{len(items)} oracle queries match")
sys.exit(1 if fails else 0)
