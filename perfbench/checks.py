"""Correctness checks and per-layer aggregation for run.py.

Every workload's outputs are checked after its timed passes:
* registered queries against their `SparkEntry.oracleSql` DuckDB twins,
  through the repository's own comparator (scripts/check.py);
* the final ODS against a reference built from the staging batches:
  the last staging value per key wins, day-0 surrogate ids are kept and
  each day's new keys get the ids just above the previous maximum, in
  key order; the mlvar trees and shift-cut features against DuckDB;
* graph operators against their driver replicas (checked in the JVM,
  reported in the result file's "verify" map).
"""
import datetime
import json
import os
import statistics
import subprocess
import sys

import duckdb

OPS = ["page_rank", "hits", "label_propagation", "connected_components",
       "largest_remainder", "capped_largest_remainder"]
PER_LAYER = (
    [("catalyst.analysis_s", "s"), ("catalyst.optimization_s", "s"),
     ("catalyst.planning_s", "s"),
     ("spark.jobs", "count"), ("spark.stages", "count"), ("spark.tasks", "count"),
     ("spark.job_s", "s"), ("spark.executor_run_s", "s"),
     ("spark.executor_cpu_s", "s"), ("spark.scan_mb", "MB"),
     ("spark.shuffle_read_mb", "MB"), ("spark.shuffle_write_mb", "MB"),
     ("driver.build_s", "s"), ("driver.outside_jobs_s", "s"),
     ("driver.outside_jobs_frac", "ratio"),
     ("core.staged_writes", "count"), ("core.memo_reads", "count"),
     ("core.job_s", "s"), ("core.output_mb", "MB"),
     ("ops.two_phase_runs", "count")]
    + [(f"ops.{op}_{k}", u) for op in OPS
       for k, u in (("s", "s"), ("jobs", "count"), ("small_jobs", "count"))]
    + [("etl.ods_merge_s", "s"), ("etl.ods_merge_max_s", "s"),
       ("etl.write_amp", "ratio"), ("trgx.mlvar_s", "s"),
       ("trgx.shift_cut_s", "s"), ("llm.job_s", "s"),
       ("streaming.batches", "count"), ("streaming.input_rows", "count"),
       ("streaming.trigger_s", "s"), ("streaming.add_batch_s", "s"),
       ("streaming.query_planning_s", "s"), ("streaming.wal_commit_s", "s"),
       ("streaming.commit_offsets_s", "s"), ("rpt.family_full_s", "s"),
       ("jvm.gc_s", "s"), ("trace.batch_s", "s"),
       ("trace.untraced_batch_s", "s"), ("trace.overhead", "ratio")])


def layer_metrics(res):
    """Medians over the traced passes, plus the traced-only jobs and the
    tracing overhead (traced over untraced batch_s of the same run)."""
    tp = res["traced_passes"]
    med = lambda k: statistics.median(p[k] for p in tp) if tp else 0.0
    vals = {k: med(k) for k, _ in PER_LAYER if not k.startswith(("rpt.", "trace."))}
    extra = {j["name"]: j for j in res["traced_only"] if not j["error"]}
    vals["rpt.family_full_s"] = extra.get("report_family_full", {}).get("seconds", 0.0)
    for op in OPS:  # operators kept out of the timed mix run once, traced
        if op in extra:
            vals[f"ops.{op}_s"] = extra[op]["seconds"]
            vals[f"ops.{op}_jobs"] = extra[op]["counts"].get(f"ops.{op}_jobs", 0.0)
    base = statistics.median(p["batch_s"] for p in res["passes"])
    vals["trace.batch_s"] = med("batch_s")
    vals["trace.untraced_batch_s"] = base
    vals["trace.overhead"] = vals["trace.batch_s"] / base if base else 0.0
    units = dict(PER_LAYER)
    return {k: {"value": vals[k], "unit": units[k]} for k, _ in PER_LAYER}


def check_outputs(workload, res, data, out, ods, root):
    """Return {job name: why its published output is wrong}."""
    wrong = {n: why for n, why in res["verify"].items() if why}
    if res["oracles"]:
        wrong.update(check_oracles(res["oracles"], data, out, root))
    if workload == "nightly_batch":
        wrong.update(check_ods(data, out, ods))
    return wrong


def check_oracles(oracles, data, out, root):
    with open(os.path.join(out, "oracle_sql.json"), "w") as fh:
        json.dump(oracles, fh)
    r = subprocess.run([sys.executable, os.path.join(root, "scripts", "check.py"),
                        data, out], capture_output=True, text=True, timeout=120)
    seen = {}
    for line in r.stdout.splitlines():
        mark, _, rest = line.partition(" ")
        name, _, why = rest.partition(": ")
        if name in oracles:
            seen[name] = None if mark == "PASS" else why or line
    return {n: seen.get(n, "no oracle verdict") for n in oracles
            if seen.get(n, "missing") is not None}


def check_ods(data, out, ods):
    con = duckdb.connect()
    q = lambda sql: con.sql(sql).fetchall()
    wrong = {}
    ref = {}  # okey -> (custkey, status, price, dt, dw_id)
    for k, c, s, p, d, i in q(f"SELECT okey, custkey, status, price, dt, dw_id "
                              f"FROM '{data}/ods/day_0/*.parquet'"):
        ref[k] = (c, s, p, d, i)
    top = max(v[4] for v in ref.values())
    for d in range(1, ods["n_days"] + 1):
        rows = q(f"SELECT okey, custkey, status, price, dt "
                 f"FROM '{data}/ods/stg_{d}/*.parquet' ORDER BY okey")
        for k, c, s, p, dt in rows:
            if k in ref:
                ref[k] = (c, s, p, dt, ref[k][4])
            else:
                top += 1
                ref[k] = (c, s, p, dt, top)
    got = {k: (c, s, p, d, i) for k, c, s, p, d, i in q(
        f"SELECT okey, custkey, status, price, dt, dw_id FROM '{out}/ods_live/*.parquet'")}
    if got != ref:
        diff = [k for k in set(ref) | set(got) if ref.get(k) != got.get(k)]
        why = (f"{len(diff)} of {len(ref)} ODS keys differ from the reference, "
               f"e.g. {sorted(diff)[:3]}")
        wrong.update({f"ods_day_{d}": why for d in range(1, ods["n_days"] + 1)})

    n_users = len({v[0] for v in ref.values()})
    n_trees = q(f"SELECT count(*) FROM '{out}/mlvar_trees/*.parquet'")[0][0]
    if n_trees != n_users:
        wrong["mlvar_trees"] = f"{n_trees} trees for {n_users} users"

    as_of = datetime.date(2016, 1, 1) + datetime.timedelta(days=ods["n_days"] - 1)
    exp = {}
    for c, _, p, d, _ in ref.values():
        for w in range(3):
            hi = as_of - datetime.timedelta(days=30 * w)
            lo = hi - datetime.timedelta(days=29)
            if str(lo) <= d <= str(hi):
                exp[(c, w)] = exp.get((c, w), 0.0) + float(p)
    got_sc = {(c, w): v for c, w, v in q(
        f"SELECT custkey, w, price_sum FROM '{out}/shift_cut/*.parquet'")}
    if got_sc != exp:
        diff = [k for k in set(exp) | set(got_sc) if exp.get(k) != got_sc.get(k)]
        wrong["shift_cut"] = f"{len(diff)} of {len(exp)} (user, window) sums differ"
    return wrong
