#!/usr/bin/env python3
"""Repository benchmark: one workload, one run.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads are defined in perfbench/workloads.json. The run builds the
library and the harness from source on first use (sbt, under
.bench_build/), starts one JVM with a fresh local[<all cores>] Spark
session, and lets the harness (perfbench/src) set up, warm up, time whole
passes for --seconds and check its outputs. Catalog outputs are then
compared with each query's oracle SQL in DuckDB by tools/compare.py.

--trace 0 prints the end-to-end metrics, --trace 1 the per-layer ones (a
traced replay of the timed passes). Information lines come first; the last
line of stdout is the JSON result.
"""
import argparse
import json
import re
import shutil
import subprocess
import sys
import time
from pathlib import Path

import metrics

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = ROOT / ".bench_build" / "perfbench"
RUN_LIMIT_S = 170  # a run of a BENCHMARK.json workload, after the build, ends within three minutes
HAND_RUN_LIMIT_S = 1200  # the workloads run by hand take a minute or more per pass
BUILD_LIMIT_S = 840


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def newest_mtime(paths):
    newest = 0.0
    for p in paths:
        if p.is_file():
            newest = max(newest, p.stat().st_mtime)
        elif p.is_dir():
            for f in p.rglob("*"):
                if f.is_file():
                    newest = max(newest, f.stat().st_mtime)
    return newest


def build():
    """Compile the library (its own build, from the repository root) and the
    harness; return the runtime classpath and the JVM options of the
    library's build. Rebuilds only when a source or build file is newer
    than the recorded result."""
    cp_file = WORK / "classpath.txt"
    opts_file = WORK / "java_options.txt"
    sources = [ROOT / "build.sbt", ROOT / "project" / "build.properties",
               ROOT / "src" / "main", HERE / "build.sbt",
               HERE / "project" / "build.properties", HERE / "src" / "main"]
    if (cp_file.exists() and opts_file.exists()
            and cp_file.stat().st_mtime >= newest_mtime(sources)):
        return cp_file.read_text().strip(), opts_file.read_text().split()
    WORK.mkdir(parents=True, exist_ok=True)
    log = WORK / "build.log"
    cmd = ["sbt", "-batch", "-Dsbt.server.autostart=false", "-Dsbt.supershell=false",
           "-Dsbt.color=false", "export perfbench/Runtime/fullClasspath",
           "perfbench/printJavaOptions"]
    with open(log, "w") as out:
        try:
            rc = subprocess.run(cmd, cwd=HERE, stdout=out, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, timeout=BUILD_LIMIT_S).returncode
        except subprocess.TimeoutExpired:
            fail(f"build timed out; see {log}")
    lines = [l.strip() for l in log.read_text().splitlines() if l.strip()]
    opts = [l for l in lines if l.startswith("java-options ")]
    cp = [l for l in lines if not l.startswith(("[", "java-options "))]
    if rc != 0 or not opts or not cp or "perfbench" not in cp[-1]:
        fail(f"build failed (exit {rc}); see {log}")
    opts_file.write_text(opts[-1][len("java-options "):])
    cp_file.write_text(cp[-1])
    return cp[-1], opts_file.read_text().split()


def run_jvm(cp, java_opts, args, session, spec, run_dir, deadline):
    out = run_dir / "record.json"
    cmd = ["java", f"-Djava.io.tmpdir={run_dir / 'tmp'}"] + java_opts + [
        "-cp", cp, "perfbench.Main",
        "--workload", args.workload, "--kind", spec["kind"], "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--work", str(run_dir), "--out", str(out),
        "--warmup-passes", str(spec["warmup_passes"]),
        "--session", ",".join(f"{k}={v}" for k, v in session.items()),
        "--data", str(ROOT / spec.get("data", "perfbench/data/sf0.1"))]
    if spec["kind"] == "catalog":
        cmd += ["--queries", ",".join(spec["queries"]),
                "--round-passes", str(spec["passes_per_round"])]
    else:
        cmd += ["--survey-responses", str(spec["responses_per_export"]),
                "--survey-nights", str(spec["nights_per_season"]),
                "--window-days", str(spec["window_days"])]
    (run_dir / "tmp").mkdir(parents=True, exist_ok=True)
    log = run_dir / "jvm.log"
    with open(log, "w") as f:
        proc = subprocess.Popen(cmd, stdout=f, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL)
        try:
            rc = proc.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail(f"harness exceeded the run time limit; see {log}")
    if rc != 0 or not out.exists():
        tail = log.read_text().splitlines()[-15:]
        fail(f"harness failed (exit {rc}); see {log}\n" + "\n".join(tail))
    return json.loads(out.read_text())


def duckdb_check(record, data_dir, deadline):
    """Run tools/compare.py over the dumps; return the failing queries."""
    pre = record["postcheck"]
    bad = dict(pre["dump_errors"])
    for q in pre["oracle_missing"]:
        bad[q] = "no oracle SQL"
    try:
        res = subprocess.run(
            [sys.executable, str(ROOT / "tools" / "compare.py"), str(data_dir),
             pre["dump_dir"]], capture_output=True, text=True,
            timeout=max(1.0, deadline - time.time()), stdin=subprocess.DEVNULL)
    except subprocess.TimeoutExpired:
        fail("DuckDB output check exceeded the run time limit")
    passed = set()
    for line in res.stdout.splitlines():
        m = re.match(r"(PASS|FAIL) (\S+?):? ", line + " ")
        if m and m.group(1) == "PASS":
            passed.add(m.group(2))
        elif m:
            bad.setdefault(m.group(2), line[5:].strip()[:200])
    for q in record_queries(record):
        if q not in passed:
            bad.setdefault(q, "no PASS from the DuckDB check")
    return bad


def record_queries(record):
    return sorted({op["kind"] for s in record["segments"] for op in s["ops"]})


def fmt(v):
    return "null" if v is None else f"{v:.6g}"


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    spec_all = json.loads((HERE / "workloads.json").read_text())
    spec = spec_all["workloads"].get(args.workload)
    if spec is None:
        fail(f"unknown workload {args.workload!r}; known: {', '.join(spec_all['workloads'])}")
    for needed in (ROOT / "build.sbt", ROOT / "src" / "main" / "scala" / "graft",
                   ROOT / "tools" / "compare.py"):
        if not needed.exists():
            fail(f"{needed.relative_to(ROOT)} is missing: run from a full checkout")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java must be on PATH")

    cp, java_opts = build()
    gated = {w["name"] for w in metrics.BENCHMARK["workloads"]}
    deadline = time.time() + (RUN_LIMIT_S if args.workload in gated else HAND_RUN_LIMIT_S)
    run_dir = WORK / "run"
    shutil.rmtree(run_dir, ignore_errors=True)
    run_dir.mkdir(parents=True)
    t0 = time.time()
    record = run_jvm(cp, java_opts, args, spec_all["session"], spec, run_dir, deadline - 25)
    jvm_s = time.time() - t0

    failed_kinds = {}
    t0 = time.time()
    if spec["kind"] == "catalog":
        failed_kinds = duckdb_check(record, ROOT / spec["data"], deadline)
    check_s = time.time() - t0
    baseline = {}
    base_file = ROOT / "BASELINE_duckdb_per_query.json"
    if base_file.exists():
        baseline = {q: v["median"] for q, v in
                    json.loads(base_file.read_text()).get("spread", {}).items()}

    e2e, facts = metrics.end_to_end(record, spec["kind"], failed_kinds, baseline)
    problems = list(record["postcheck"].get("problems", []))
    problems += [f"{q}: {why}" for q, why in sorted(failed_kinds.items())]
    errors = {}
    for s in record["segments"]:
        for op in s["ops"]:
            if op.get("err") and not op["err"].startswith("check: "):
                key = (op["kind"].split(":")[0], op["err"])
                errors[key] = errors.get(key, 0) + 1

    print(f"workload {args.workload} seed {args.seed} cores {record['cores']} "
          f"passes {facts['passes']} setup cycles {len(record['setup'])} "
          f"warm-up passes {[round(x, 2) for x in record['warmup_s']]}")
    print("wall: " + ", ".join(f"{k} {v:.1f} s" for k, v in record["phases_s"].items())
          + f"; harness {jvm_s:.1f} s, DuckDB check {check_s:.1f} s")
    for (kind, err), n in sorted(errors.items()):
        print(f"errors: {kind} {err} x{n}")
    for p in problems[:20]:
        print(f"check failed: {p}")
    print(f"operations: attempted {facts['attempted']} failed {facts['failed']}"
          + (f"; extracts: attempted {facts['other_attempted']} failed "
             f"{facts['other_failed']}" if facts["other_attempted"] else ""))
    units = {**metrics.END_TO_END, **metrics.WORKLOAD_METRICS}
    for name, v in e2e.items():
        note = ""
        if name == "op_tail_s":
            note = f"  (p{facts['tail_percentile']}, n={facts['n']})"
            if facts["tail_percentile"] < metrics.TAIL_RESOLVED_P:
                note += (f"; unresolved: below p{metrics.TAIL_RESOLVED_P}, "
                         f"too few samples for a tail")
        elif name == "op_p50_s":
            note = f"  (n={facts['n']})"
        elif name == "geomean_vs_duckdb":
            note = (f"  (over {facts['geomean_queries']} of {facts['geomean_of']} "
                    f"queries in BASELINE_duckdb_per_query.json)")
        print(f"metric {name} = {fmt(v)} {units[name][0]}{note}")

    if args.trace:
        layer = metrics.per_layer(record)
        for name, v in layer.items():
            print(f"layer {name} = {fmt(v)} {metrics.PER_LAYER[name][0]}")
        print(f"accounting: sub-steps leave at most "
              f"{100 * metrics.accounting(record):.2f}% of an operation's or a "
              f"pass's wall time unexplained")
        out = {k: {"value": layer[k], "unit": u} for k, (u, _) in metrics.PER_LAYER.items()}
    else:
        out = {k: {"value": e2e[k], "unit": u} for k, (u, _) in metrics.END_TO_END.items()}

    correct = not problems and facts["failed"] == 0
    print(json.dumps({"correct": correct, "attempted": facts["attempted"],
                      "failed": facts["failed"], "metrics": out}))


if __name__ == "__main__":
    main()
