#!/usr/bin/env python3
"""DuckDB side of the floor-amortization measurement (ScaleUpBench.scala):
time the named oracle queries over each replicated-scale dir produced by
`Test/runMain graft.ScaleUpBench`, so the Spark-vs-DuckDB ratio can be read
per scale.

Usage: python3 tools/bench_scale.py <oracleSqlJson> <scaleRoot> <k...>
  <oracleSqlJson>  oracle_sql.json from a graft.Verify run
  <scaleRoot>      dir containing x<k>/documents.parquet subdirs

GRAFT_ORACLE_TIMEOUT (seconds, default 600): per-query wall deadline — the
parent kills the forked child past it and records a DNF(timeout). The
recursive-CTE CC oracle ran 50+ minutes at x10 before being killed by hand;
a suite-wide re-time must not hinge on hand intervention.
"""
import json, signal, sys, glob, os, tempfile, time

import duckdb

DEFAULT_QUERIES = ["tf_idf", "nb_confusion", "ngram_jaccard", "analysis_pipeline"]
# same durable-contract convention as bench_oracle.py: these queries' Spark
# gates write+read a committed output root, so their oracle timing performs
# the same COPY TO parquet + read-back inside the timed region
DURABLE = {"feature_pipeline"}


def run_query(con, name, sql):
    if name in DURABLE:
        out = os.path.join(tempfile.gettempdir(), f"graft_scale_{name}.parquet")
        con.execute(f"COPY ({sql}) TO '{out}' (FORMAT PARQUET)")
        return con.execute(f"SELECT * FROM '{out}'").fetchall()
    return con.execute(sql).fetchall()

oracle = json.load(open(sys.argv[1]))
root = sys.argv[2]
scales = [int(a) for a in sys.argv[3:] if a.isdigit()]
QUERIES = [a for a in sys.argv[3:] if not a.isdigit()] or DEFAULT_QUERIES
if QUERIES == ["all"]:  # the suite-level re-time (BENCH_x10)
    QUERIES = sorted(oracle.keys())
# min-of-reps after one warm run; 1 halves the cost of a suite-level
# re-time where per-query noise matters less than coverage.
# GRAFT_ORACLE_WARM=0 skips the warm run entirely (single cold-timed run —
# the fair pairing for a Spark side that also ran one timed pass, and it
# keeps a feasible-but-slow query from burning its wall deadline on the
# warm-up).
warm = os.environ.get("GRAFT_ORACLE_WARM", "1") != "0"
# cold mode means ONE cold-timed run: a min-of-2 would still include a warm
# second rep, silently defeating the documented cold pairing — so reps
# defaults to 1 (and is forced to 1) when the warm run is disabled.
reps = 1 if not warm else int(os.environ.get("GRAFT_ORACLE_REPS", "2"))

print(f"{'query':20s} {'k':4s} {'rows':10s} seconds")
for k in scales:
    for q in QUERIES:
        sql = oracle[q]
        # run each query in a child process: an unrolled training-replay
        # oracle can allocate unboundedly past memory_limit (observed 130 GB
        # RSS and a kernel OOM kill at 32k vectors despite a 48 GB limit +
        # temp_directory) —
        # a DNF must be a recorded data point, not a dead box. The
        # connection, limits, and views are ALL created inside the child
        # (fork first, connect after): forking a live multithreaded native
        # DuckDB connection is unsupported and can deadlock or corrupt —
        # the parent must hold no DuckDB state.
        pid = os.fork()
        if pid == 0:  # child: connect, warm + timed reps, then hard-exit
            con = duckdb.connect()
            con.execute("SET memory_limit='48GB'")
            con.execute(f"SET temp_directory='{tempfile.gettempdir()}/duck_spill'")
            for p in glob.glob(f"{root}/x{k}/*.parquet"):
                name = os.path.basename(p).replace(".parquet", "")
                src = f"{p}/*.parquet" if os.path.isdir(p) else p  # Spark dir layout
                con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{src}'")
            rows = len(run_query(con, q, sql)) if warm else -1
            times = []
            for _ in range(reps):
                t0 = time.perf_counter()
                rows = len(run_query(con, q, sql))
                times.append(time.perf_counter() - t0)
            print(f"{q:20s} {k:<4d} {rows:<10d} {min(times):.2f}", flush=True)
            os._exit(0)
        deadline = time.monotonic() + int(os.environ.get(
            "GRAFT_ORACLE_TIMEOUT", "600"))
        status = None
        while True:
            done, st = os.waitpid(pid, os.WNOHANG)
            if done == pid:
                status = st
                break
            if time.monotonic() > deadline:
                os.kill(pid, signal.SIGKILL)
                os.waitpid(pid, 0)
                print(f"{q:20s} {k:<4d} {'DNF':10s} timeout", flush=True)
                break
            time.sleep(0.25)
        if status is not None and status != 0:
            print(f"{q:20s} {k:<4d} {'DNF':10s} killed (status {status})",
                  flush=True)
