#!/usr/bin/env python3
"""Cold-CLI pipeline benchmark.

Each run launches the pipeline the way `graft.Main` runs it, in a fresh JVM
(local[<nproc>], Main's session defaults), as a CLI user would: one cold
pass, then warm passes of the same pipeline in the same JVM for `--seconds`.
Every pass's output is checked against DuckDB.

  python3 perfbench/run.py --workload meds_etl --seed 1 --seconds 1 --trace 0

`--trace 0` prints the end-to-end metrics; `--trace 1` runs the traced
variant and prints the per-layer metrics (the full span table goes to
`.perfbench_work/traces/`). The last stdout line is one JSON object:
{"correct", "attempted", "failed", "metrics"}. Run it from the repository
root; it builds the repository and the harness with sbt on first use.

Workloads, metrics and their meaning: perfbench/README.md.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402
import check  # noqa: E402
import inputs  # noqa: E402

REPO = os.path.dirname(HERE)
WORK = os.path.join(REPO, ".perfbench_work")
HEAP = "4g"
CPUS = len(os.sched_getaffinity(0))  # what `nproc` reports
JVM_TIMEOUT_S = 150

# build.sbt's javaOptions for a SparkSession outside spark-submit
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]
JVM_FLAGS = [f for p in ADD_OPENS for f in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")] + [
    "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
    f"-Xmx{HEAP}", "-XX:ReservedCodeCacheSize=512m",
    # Spark's scratch space stays inside the work root
    f"-Djava.io.tmpdir={WORK}/tmp", f"-Dspark.local.dir={WORK}/tmp"]

WORKLOADS = {
    "meds_etl": {"config": "perfbench/meds_etl.yaml", "checkpoint": False},
    "analysis_ckpt": {"config": "config/analysis_pipeline.yaml", "checkpoint": True},
    "curation": {"config": "config/curation_pipeline.yaml", "checkpoint": False},
}

# name -> unit; the order of BENCHMARK.json's end_to_end list
END_TO_END = {"wall_s": "s", "setup_s": "s", "pipeline_s": "s", "warm_s": "s",
              "rows_per_s": "1/s", "write_amp": "ratio"}
# printed on the workload line but not bounded: the JVM's peak RSS moves
# by 25-30% between identical runs with G1's heap sizing
UNBOUNDED = {"peak_rss_mb": "MB"}
SPANS = ["pipeline", "config.load", "meds.read", "operators.run", "meds.write",
         "meds.finalize"]
# the per-layer metrics printed on the result line (the trace file has all)
PER_LAYER = (["jvm.start_s", "session.wall_s", "config.load.wall_s",
              "meds.read.wall_s", "meds.read.jobs"]
             + [f"operators.run.{m}" for m in ("wall_s", "jobs", "gap_s", "task_s",
                                               "util", "output_mb", "shuffle_write_mb")]
             + [f"meds.write.{m}" for m in ("wall_s", "task_s", "util",
                                            "shuffle_write_mb", "spill_mb")]
             + ["meds.finalize.wall_s", "pipeline.wall_s", "pipeline.self_s",
                "pipeline.jobs", "pipeline.gap_s", "codegen.compile_s", "codegen.classes",
                "jit.compile_s", "gc.pause_s", "cache.persisted_mb", "trace.overhead_s"])


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def overrides(workload, root):
    if workload == "analysis_ckpt":
        return [f"stages.load_csv.path={root}/corpus"]
    if workload == "curation":
        return [f"stages.load_jsonl.path={root}/corpus",
                f"stages.decontaminate.eval_path={root}/eval"]
    return []


def launch(cp, spec, run_dir, name):
    """Runs the harness in a fresh JVM; returns (launch time, result)."""
    spec_path = os.path.join(run_dir, f"{name}.spec.json")
    spec["result"] = os.path.join(run_dir, f"{name}.result.json")
    with open(spec_path, "w") as f:
        json.dump(spec, f)
    with open(os.path.join(run_dir, f"{name}.log"), "w") as jlog:
        t0 = time.time()
        proc = subprocess.Popen(["java"] + JVM_FLAGS + ["-cp", cp, "graft.perfbench.Harness",
                                                        spec_path],
                                cwd=REPO, stdout=jlog, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL)
        try:
            rc = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise RuntimeError(f"harness {name} timed out after {JVM_TIMEOUT_S} s")
    if rc != 0 or not os.path.exists(spec["result"]):
        raise RuntimeError(f"harness {name} exited {rc}; see {jlog.name}")
    with open(spec["result"]) as f:
        return t0, json.load(f)


def oracle_sql(fp, cp, run_dir):
    """The corpus gates' oracle SQL, dumped once per build."""
    path = os.path.join(WORK, "build", fp + ".oracles.json")
    if not os.path.exists(path):
        _, res = launch(cp, {"mode": "oracles"}, run_dir, "oracles")
        with open(path, "w") as f:
            json.dump(res, f)
    with open(path) as f:
        return json.load(f)


def dir_bytes(path):
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, fs in os.walk(path) for f in fs)


def quartiles(xs):
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q = statistics.quantiles(xs, n=4)
    return q[0], statistics.median(xs), q[2]


def git_sha():
    try:
        return subprocess.run(["git", "rev-parse", "--short", "HEAD"], cwd=REPO,
                              capture_output=True, text=True, timeout=10).stdout.strip() or "none"
    except OSError:
        return "none"


def one_run(args, cp, manifest, expected, run_dir):
    """One fresh-JVM run; returns (samples, check results, harness result,
    trace report)."""
    cfg = WORKLOADS[args.workload]
    root = manifest["root"]
    spec = {"mode": "passes", "cpus": CPUS, "config": os.path.join(REPO, cfg["config"]),
            "input": root if args.workload == "meds_etl" else f"{root}/in",
            "overrides": overrides(args.workload, root), "checkpoint": cfg["checkpoint"],
            "pass_root": os.path.join(run_dir, "passes"), "seconds": args.seconds,
            "trace": bool(args.trace)}
    t0, res = launch(cp, spec, run_dir, "main")
    passes = res["passes"]
    if args.corrupt:
        check.corrupt(args.workload, passes[0]["out"])
    checks = []
    for p in passes:
        ok, msg = (False, p["error"]) if p.get("error") else \
            check.check_output(args.workload, p["out"], expected)
        checks.append(ok)
        if not ok:
            log(f"pass {p['idx']} FAILED the output check: {msg}")
    cold = passes[0]
    warm = [p["pipeline_s"] for p in passes[1:] if not p["traced"]]
    written = dir_bytes(os.path.join(run_dir, "passes", "pass_0"))
    samples = {
        "wall_s": cold["end"] - t0,
        "setup_s": res["ready"] - t0,
        "pipeline_s": cold["pipeline_s"],
        "warm_s": statistics.median(warm),
        "rows_per_s": manifest["rows"] / cold["pipeline_s"],
        "peak_rss_mb": res["vm_hwm_kb"] / 1024.0,
        "write_amp": written / manifest["bytes"],
    }
    report = trace_report(res, t0, passes, warm) if args.trace and not cold.get("error") \
        else None
    return samples, checks, res, report


def trace_report(res, t0, passes, warm):
    cold = passes[0]
    traced_warm = [p["pipeline_s"] for p in passes[1:] if p["traced"]]
    spans = cold["spans"]
    flat = {"jvm.start_s": res["main_start"] - t0,
            "session.wall_s": res["ready"] - res["main_start"]}
    for s in SPANS:
        for k, v in spans[s].items():
            flat[f"{s}.{k}"] = v
    flat.update(cold["jvm"])
    flat["cache.persisted_mb"] = cold["cache.persisted_mb"]
    flat["trace.overhead_s"] = statistics.median(traced_warm) - statistics.median(warm)
    self_share = spans["pipeline"]["self_s"] / spans["pipeline"]["wall_s"]
    # the traced sequence is a copy of Main.run's: each traced warm pass
    # must fire as many jobs as the untraced Main.run pass after it
    pairs = [(a["spans"]["pipeline"]["jobs"], b["jobs"])
             for a, b in zip(passes[1:], passes[2:]) if a["traced"] and not b["traced"]]
    return {
        "metrics": flat,
        "overhead": {"traced_warm_s": traced_warm, "untraced_warm_s": warm},
        "pipeline_self_share": self_share,
        "unattributed_jobs": spans["unattributed_jobs"],
        # the named spans cover the pipeline span: under 2% of its wall is
        # outside any child span, and no job ran outside a span
        "accounted": self_share < 0.02 and spans["unattributed_jobs"] == 0,
        "jobs_traced_vs_main": pairs,
        "matches_main": bool(pairs) and all(a == b for a, b in pairs),
        "passes": [{k: p[k] for k in ("idx", "traced", "pipeline_s", "jobs", "jvm") if k in p}
                   | {"spans": p.get("spans")} for p in passes],
    }


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=1.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=sorted(inputs.SCALES), default="bench",
                    help="input size; 'smoke' is the self-tests' small scale")
    ap.add_argument("--runs", type=int, default=1, help="fresh-JVM runs to aggregate")
    ap.add_argument("--corrupt", action="store_true",
                    help="self-test: corrupt the cold pass's output before checking it")
    args = ap.parse_args(argv)

    try:
        fp, cp = build.classpath(REPO, WORK, log)
    except (build.BuildError, OSError, subprocess.SubprocessError) as e:
        log(f"build failed: {e}")
        return 2
    run_dir = os.path.join(WORK, "runs", f"{args.workload}-s{args.seed}-{os.getpid()}")
    os.makedirs(os.path.join(WORK, "tmp"), exist_ok=True)
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        manifest = inputs.ensure_inputs(WORK, args.workload, args.seed, args.scale)
        oracles = oracle_sql(fp, cp, run_dir) if args.workload != "meds_etl" else {}
        expected = check.ensure_expected(WORK, args.workload, manifest, oracles)
        runs = []
        for _ in range(args.runs):
            runs.append(one_run(args, cp, manifest, expected, run_dir))
            shutil.rmtree(os.path.join(run_dir, "passes"), ignore_errors=True)
    except (RuntimeError, OSError) as e:
        log(f"run failed: {e}")
        return 2
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    attempted = sum(len(c) for _, c, _, _ in runs)
    failed = sum(c.count(False) for _, c, _, _ in runs)
    heap = runs[0][2]["heap_max_mb"]
    cpus = CPUS
    print(f"# workload={args.workload} seed={args.seed} scale={args.scale} "
          f"inputs={manifest['rows']} rows/{manifest['bytes']} B "
          f"fingerprint={manifest['fingerprint'][:12]} cpus={cpus} heap={heap:.0f}MB "
          f"master=local[{cpus}] sha={git_sha()} inputs in page cache")
    cells = []
    for name, unit in (END_TO_END | UNBOUNDED).items():
        q1, med, q3 = quartiles([r[0][name] for r in runs])
        cells.append(f"{name}={med:.4g} {unit} [{q1:.4g}..{q3:.4g}]")
    print(f"{args.workload} n={len(runs)} cpus={cpus} " + " ".join(cells)
          + f" fail_ratio={failed}/{attempted}")

    if args.trace and runs[0][3] is None:
        metrics = {}  # the traced cold pass failed: no span table
    elif args.trace:
        report = runs[0][3]
        os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
        tpath = os.path.join(WORK, "traces", f"{args.workload}-s{args.seed}.json")
        with open(tpath, "w") as f:
            json.dump(report, f, indent=1)
        ov = report["overhead"]
        print(f"# trace: {tpath}; spans account for pipeline wall: {report['accounted']} "
              f"(pipeline self share {report['pipeline_self_share']:.4f}); "
              f"overhead {report['metrics']['trace.overhead_s']:+.3f} s = traced warm "
              f"{statistics.median(ov['traced_warm_s']):.3f} s - untraced warm "
              f"{statistics.median(ov['untraced_warm_s']):.3f} s (run after it); "
              f"jobs traced/Main.run {report['jobs_traced_vs_main']}")
        if not report["accounted"]:
            log("the named spans do not account for the pipeline span")
            failed += 1
        if not report["matches_main"]:
            log("the traced sequence fires other jobs than Main.run: update "
                "Harness.tracedPipeline to Main's current sequence")
            failed += 1
        metrics = {m: {"value": report["metrics"][m],
                       "unit": unit_of(m)} for m in PER_LAYER}
    else:
        metrics = {name: {"value": statistics.median(r[0][name] for r in runs), "unit": unit}
                   for name, unit in END_TO_END.items()}
    correct = failed == 0
    med = {k: statistics.median(r[0][k] for r in runs) for k in ("wall_s", "pipeline_s",
                                                               "warm_s")}
    print(f"{args.workload} s{args.seed} wall {med['wall_s']:.2f}s pipeline "
          f"{med['pipeline_s']:.2f}s warm {med['warm_s']:.2f}s "
          f"failed {failed}/{attempted} {'OK' if correct else 'WRONG OUTPUT'}")
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0 if correct else 1


def unit_of(metric):
    leaf = metric.rsplit(".", 1)[-1]
    if leaf.endswith("_s"):
        return "s"
    if leaf.endswith("_mb"):
        return "MB"
    return {"util": "ratio"}.get(leaf, "count")


if __name__ == "__main__":
    sys.exit(main())
