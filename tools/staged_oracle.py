#!/usr/bin/env python3
"""Staged DuckDB replay for oracle queries whose CHAINED form DNFs at scale.

The x10 oracle DNFs are not per-stage infeasibility: they come from DuckDB
re-evaluating heavy CTEs per reference (the shingle/minhash replay appears
3x inside `pairs` alone) and from the recursive closure running over a
non-materialized graph. This tool makes the SAME SQL feasible by
materializing every top-level CTE to parquet, one statement at a time, in
definition order — each step reads its upstream CTEs as views over the
already-materialized parquet (views shadow the names), so no fragment is
ever evaluated twice and no fragment of SQL is duplicated by hand: the
statements are CHOPPED mechanically out of the committed oracle_sql.json.

Usage:
  python3 tools/staged_oracle.py <oracle_sql.json> <query> <sfDir> \
      [engineParquetDir]

With engineParquetDir (a `graft.Verify <sfDir> <out> <query>` dump), the
final result is value-compared against the engine output, column- and
row-sorted — the same convention as tools/compare.py.
"""
import json
import os
import re
import shutil
import sys
import tempfile
import time

import duckdb


def split_ctes(sql):
    """Top-level CTE list [(name, collist|None, body)] + final statement."""
    m = re.match(r"\s*WITH\s+(RECURSIVE\s+)?", sql, re.I)
    if not m:
        return [], sql
    i = m.end()
    ctes = []
    while True:
        mm = re.match(r"\s*([A-Za-z_][A-Za-z_0-9]*)\s*(\([^)]*\))?\s+AS\s*\(",
                      sql[i:])
        if not mm:
            break
        name, cols = mm.group(1), mm.group(2)
        j = i + mm.end()  # just past the opening paren
        depth = 1
        while depth > 0:
            c = sql[j]
            if c == "(":
                depth += 1
            elif c == ")":
                depth -= 1
            elif c == "'":  # skip string literal
                j += 1
                while sql[j] != "'" or sql[j:j + 2] == "''":
                    j += 2 if sql[j:j + 2] == "''" else 1
            j += 1
        body = sql[i + mm.end():j - 1]
        ctes.append((name, cols, body))
        i = j
        mm = re.match(r"\s*,", sql[i:])
        if not mm:
            break
        i += mm.end()
    return ctes, sql[i:]


def self_recursive(name, body):
    return re.search(r"\b%s\b" % re.escape(name), body) is not None


def main():
    oracle = json.load(open(sys.argv[1]))
    query = sys.argv[2]
    sf_dir = sys.argv[3]
    engine_dir = sys.argv[4] if len(sys.argv) > 4 else None
    sql = oracle[query]
    ctes, final = split_ctes(sql)
    print(f"{query}: {len(ctes)} CTEs to stage")

    work = tempfile.mkdtemp(prefix=f"staged_{query}_")
    con = duckdb.connect()
    con.execute(f"SET threads TO {os.cpu_count()}")
    # the driver's table convention: <sfDir>/<table>.parquet (file or dir)
    for t in ("events", "documents", "embeddings"):
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.isdir(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * "
                        f"FROM read_parquet('{p}/**/*.parquet')")
        elif os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")

    total = 0.0
    for name, cols, body in ctes:
        t0 = time.time()
        if self_recursive(name, body):
            head = f"{name}{cols or ''} AS ({body})"
            stmt = f"WITH RECURSIVE {head} SELECT * FROM {name}"
        elif cols:
            # a VALUES CTE with a column list: wrap to name the columns
            colnames = cols.strip("() ")
            stmt = f"SELECT * FROM ({body}) AS t({colnames})"
        else:
            stmt = body
        out = os.path.join(work, f"{name}.parquet")
        con.execute(f"COPY ({stmt}) TO '{out}' (FORMAT PARQUET)")
        n = con.execute(f"SELECT count(*) FROM '{out}'").fetchone()[0]
        con.execute(f"CREATE OR REPLACE VIEW {name} AS SELECT * FROM '{out}'")
        dt = time.time() - t0
        total += dt
        print(f"  {name:12s} {n:>12,} rows  {dt:7.1f} s")

    t0 = time.time()
    res = con.execute(final).fetchall()
    desc = [d[0] for d in con.description]
    dt = time.time() - t0
    total += dt
    print(f"  final        {len(res):>12,} rows  {dt:7.1f} s")
    print(f"staged oracle total: {total:.1f} s")

    if engine_dir:
        eng_path = os.path.join(engine_dir, query)
        cols_sorted = sorted(desc)
        sel = ", ".join(f'"{c}"' for c in cols_sorted)
        got = con.execute(
            f"SELECT {sel} FROM read_parquet('{eng_path}/*.parquet') "
            f"ORDER BY ALL").fetchall()
        fin = os.path.join(work, "__final.parquet")
        con.execute(f"COPY ({final}) TO '{fin}' (FORMAT PARQUET)")
        want = con.execute(
            f"SELECT {sel} FROM '{fin}' ORDER BY ALL").fetchall()
        match = got == want
        print(f"engine vs staged oracle: rows {len(got)}/{len(want)} "
              f"{'MATCH' if match else 'MISMATCH'}")
        if not match:
            diff = set(map(tuple, got)) ^ set(map(tuple, want))
            print(f"  symmetric diff: {len(diff)} rows; sample: "
                  f"{list(diff)[:3]}")
            shutil.rmtree(work, ignore_errors=True)
            sys.exit(1)
    shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
