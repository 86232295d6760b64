"""Summaries of one benchmark run record (written by the Scala harness).

Pure functions, so the rules are unit-tested on their own
(perfbench/tests/test_metrics.py).
"""
import json
import math
import statistics
from pathlib import Path

# BENCHMARK.json defines the gated end-to-end and the per-layer metrics:
# name -> (unit, better). The gated end-to-end metrics apply to every
# workload; WORKLOAD_METRICS are printed for the workloads they apply to.
BENCHMARK = json.loads(
    (Path(__file__).resolve().parent.parent / "BENCHMARK.json").read_text())
END_TO_END = {m["name"]: (m["unit"], m["better"]) for m in BENCHMARK["end_to_end"]}
PER_LAYER = {m["name"]: (m["unit"], m["better"]) for m in BENCHMARK["per_layer"]}
WORKLOAD_METRICS = {
    "geomean_vs_duckdb": ("ratio", "lower"),
    "rows_loaded_per_s": ("1/s", "higher"),
    "stored_bytes_per_row": ("B/row", "lower"),
    "fail_ratio": ("ratio", "lower"),
}
SURVEYS = ("orders_shipped", "nps", "returns")
# a tail percentile below this is printed as unresolved
TAIL_RESOLVED_P = 90


def tail_percentile(values):
    """The highest whole percentile with at least ten samples beyond it,
    by nearest rank: returns (percentile, value). With ten samples or
    fewer no percentile qualifies, and the maximum is returned as p100."""
    s = sorted(values)
    n = len(s)
    if n <= 10:
        return 100, s[-1]
    p = 100 * (n - 10) // n
    rank = -(-p * n // 100)  # ceil(p * n / 100), 1-based
    return p, s[rank - 1]


def per_pass(ops, field, kinds=None):
    """One pass's worth of `field`: the sum over operation kinds of the
    median over that kind's operations."""
    by_kind = {}
    for op in ops:
        if kinds is None or op["kind"] in kinds:
            by_kind.setdefault(op["kind"], []).append(op.get(field) or 0)
    return sum(statistics.median(v) for v in by_kind.values())


def geomean_vs(per_query, baseline):
    """Geometric mean over queries of Spark median / DuckDB median, using
    only queries present in the baseline. Returns (ratio, used, total)."""
    used = [q for q in per_query if baseline.get(q, 0) > 0]
    if not used:
        return None, 0, len(per_query)
    logs = [math.log(per_query[q] / baseline[q]) for q in used]
    return math.exp(sum(logs) / len(logs)), len(used), len(per_query)


def fail_counts(ops, failed_kinds=()):
    """(attempted, failed): every operation counts as attempted; one fails
    when it raised, or when its kind's output failed a check."""
    failed = sum(1 for op in ops if not op["ok"] or op["kind"] in failed_kinds)
    return len(ops), failed


def timed_kinds(workload_kind, ops):
    """Kinds of the timed operations: every query of a catalog workload;
    the reloads of the survey workload."""
    if workload_kind == "catalog":
        return {op["kind"] for op in ops}
    return {op["kind"] for op in ops if op["kind"].startswith("reload:")}


def end_to_end(record, workload_kind, failed_kinds, baseline):
    """Gated metrics plus the per-workload ones, and the sample facts to
    print beside them."""
    seg = next(s for s in record["segments"] if s["ns"] == "timed")
    kinds = timed_kinds(workload_kind, seg["ops"])
    timed = [op for op in seg["ops"] if op["kind"] in kinds]
    times = [op["t_s"] for op in timed]
    p, tail = tail_percentile(times)
    out = {
        "setup_s": statistics.median(c["total_s"] for c in record["setup"]),
        "op_p50_s": statistics.median(times),
        "op_tail_s": tail,
        "suite_s": per_pass(timed, "t_s"),
    }
    facts = {"n": len(times), "tail_percentile": p, "passes": seg["passes"]}
    attempted, failed = fail_counts(timed, failed_kinds)
    others = [op for op in seg["ops"] if op["kind"] not in kinds]
    o_att, o_failed = fail_counts(others)
    out["fail_ratio"] = (failed + o_failed) / (attempted + o_att)
    facts.update(attempted=attempted, failed=failed,
                 other_attempted=o_att, other_failed=o_failed)
    if workload_kind == "catalog":
        medians = {k: statistics.median(op["t_s"] for op in timed if op["kind"] == k)
                   for k in kinds}
        g, used, total = geomean_vs(medians, baseline)
        out["geomean_vs_duckdb"] = g
        facts.update(geomean_queries=used, geomean_of=total)
    else:
        ok = [op for op in timed if op["ok"]]
        rows = sum(op.get("rows_out", 0) for op in ok)
        secs = sum(op["t_s"] for op in ok)
        out["rows_loaded_per_s"] = rows / secs if secs else 0.0
        post = record["postcheck"]
        out["stored_bytes_per_row"] = (post["stored_bytes"] / post["live_rows"]
                                       if post["live_rows"] else 0.0)
    return out, facts


def per_layer(record):
    """Per-layer metrics of the traced segment, each as one pass's worth
    (sum over operation kinds of the per-kind median)."""
    timed = next(s for s in record["segments"] if s["ns"] == "timed")
    traced = next(s for s in record["segments"] if s["ns"] == "traced")
    ops = traced["ops"]
    cores = record["cores"]
    extract = {op["kind"] for op in ops if op["kind"].startswith("extract:")}
    reload = {op["kind"] for op in ops if op["kind"].startswith("reload:")}
    for op in ops:
        op["gap_s"] = max(0.0, op["t_s"] - (op.get("build_s") or 0)
                          - (op.get("plan_s") or 0) - op.get("covered_s", 0))
    m = {
        "tables.first_load_s": statistics.median(c["first_load_s"] for c in record["setup"]),
        "entry.build_s": per_pass(ops, "build_s"),
        "entry.build_jobs": per_pass(ops, "build_jobs"),
        "entry.build_job_s": per_pass(ops, "build_job_s"),
        "planning.plan_s": per_pass(ops, "plan_s"),
    }
    for f in ("jobs", "stages", "tasks", "job_wall_s", "task_sum_s",
              "shuffle_write_bytes", "spill_bytes", "gap_s"):
        m[f"operators.{f}"] = per_pass(ops, f)
    wall = m["operators.job_wall_s"]
    m["operators.busy_ratio"] = m["operators.task_sum_s"] / (wall * cores) if wall else 0.0
    weight = sum(op.get("skew_weight_s", 0) for op in ops)
    m["operators.max_median_task_ratio"] = (
        sum(op["skew_ratio"] * op["skew_weight_s"] for op in ops) / weight if weight else 1.0)
    for f in ("rpc_calls", "rpc_s", "reply_bytes", "decode_s", "spool_write_s"):
        m[f"sources.{f}"] = per_pass(ops, f, extract)
    m["sources.extract_s"] = per_pass(ops, "t_s", extract)
    m["sources.extract_failed"] = (
        sum(1 for op in ops if op["kind"] in extract and not op["ok"]) / traced["passes"])
    for s in SURVEYS:
        k = {f"reload:{s}"} & reload
        rows_in = per_pass(ops, "rows_in", k)
        rows_out = per_pass(ops, "rows_out", k)
        m[f"pipelines.{s}.rows_in"] = rows_in
        m[f"pipelines.{s}.rows_out"] = rows_out
        m[f"pipelines.{s}.keep_ratio"] = rows_out / rows_in if rows_in else 0.0
    m["sinks.replace_s"] = per_pass(ops, "replace_s", reload)
    m["sinks.csv_s"] = per_pass(ops, "csv_s", reload)
    m["sinks.bytes_written"] = per_pass(ops, "bytes_written", reload)
    m["sinks.files_written"] = per_pass(ops, "files_written", reload)
    new_rows = per_pass(ops, "rows_out", reload)
    m["sinks.bytes_written_per_new_row"] = (
        m["sinks.bytes_written"] / new_rows if new_rows else 0.0)
    last = {}
    for op in ops:
        if op["kind"] in reload:
            last[op["kind"]] = op.get("table_bytes", 0)
    m["sinks.table_bytes"] = sum(last.values())
    m["trace_overhead_ratio"] = traced["wall_s"] / timed["wall_s"]
    return m


def accounting(record):
    """Largest share of an operation's (catalog) or a night's (survey) wall
    time that its timed sub-steps leave unexplained, in the traced segment."""
    traced = next(s for s in record["segments"] if s["ns"] == "traced")
    worst = 0.0
    steps = ("build_s", "write_s", "read_s", "transform_s", "csv_s", "replace_s")
    by_pass = {}
    for op in traced["ops"]:
        if op["kind"].startswith("extract:"):
            parts = op["rpc_s"] + op["decode_s"] + op["spool_write_s"]
        else:
            parts = sum(op.get(f, 0) for f in steps)
        worst = max(worst, abs(op["t_s"] - parts) / op["t_s"])
        by_pass.setdefault(op["id"].split("/")[1], []).append(op["t_s"])
    for i, wall in enumerate(traced["pass_s"]):
        worst = max(worst, abs(wall - sum(by_pass.get(str(i), []))) / wall)
    return worst
