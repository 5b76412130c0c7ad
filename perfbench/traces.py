"""Per-layer figures from a traced run's spans.

Spans (see perfbench/src/main/scala/perfbench/Tracer.scala):
  h*  harness spans around each call into a graft layer (op-tagged),
  q*  Spark SQL executions,
  j*  Spark jobs (parent = their SQL execution, op-tagged),
  s*  Spark stages (parent = their job, with task metrics),
  p*  plan records of a query (planning time, plan size, graft rewrites).
SQL executions and plan records belong to the op whose harness spans
contain their start.
Self time of a level = its covered time minus its children's.
"""
import bisect
import json
import statistics
from collections import defaultdict


def union_ms(intervals):
    total, end = 0.0, None
    for s, e in sorted(intervals):
        if end is None or s > end:
            total += e - s
            end = e
        elif e > end:
            total += e - end
            end = e
    return total


def clip(iv, lo, hi):
    return [(max(s, lo), min(e, hi)) for s, e in iv if min(e, hi) > max(s, lo)]


def med(xs):
    return statistics.median(xs) if xs else 0.0


def per_layer(m, spans_path):
    spans = [json.loads(l) for l in open(spans_path)]
    by_id = {s["id"]: s for s in spans}
    harness = [s for s in spans if s["id"][0] == "h"]
    ops = defaultdict(list)
    for s in harness:
        if s.get("op") and s["op"] != "__drain__":
            ops[s["op"]].append(s)
    win = {t: (min(s["start"] for s in ss), max(s["end"] for s in ss))
           for t, ss in ops.items()}
    name = {t: max(ss, key=lambda s: s["end"] - s["start"])["name"]
            for t, ss in ops.items()}
    order = sorted(win, key=lambda t: win[t][0])
    starts = [win[t][0] for t in order]

    def owner(t0):
        i = bisect.bisect_right(starts, t0) - 1
        return order[i] if i >= 0 and t0 <= win[order[i]][1] else None

    sqls, plans = defaultdict(list), defaultdict(list)
    for s in spans:
        if s["id"][0] in "qp":
            o = owner(s["start"])
            if o:
                (sqls if s["id"][0] == "q" else plans)[o].append(s)
    jobs = defaultdict(list)
    for s in spans:
        if s["id"][0] == "j" and s.get("op") in win:
            jobs[s["op"]].append(s)
    stages = defaultdict(list)
    for s in spans:
        if s["id"][0] == "s" and s.get("parent") in by_id:
            t = by_id[s["parent"]].get("op")
            if t in win:
                stages[t].append(s)

    per_op = []
    for t in order:
        lo, hi = win[t]
        q_iv = clip([(s["start"], s["end"]) for s in sqls[t]], lo, hi)
        j_iv = clip([(s["start"], s["end"]) for s in jobs[t]], lo, hi)
        s_iv = clip([(s["start"], s["end"]) for s in stages[t]], lo, hi)
        pl = plans[t]
        uq, uj, us = union_ms(q_iv), union_ms(j_iv), union_ms(s_iv)
        per_op.append({
            "op": name[t], "wall_ms": hi - lo,
            "client_self_ms": (hi - lo) - uq,
            "sql_self_ms": max(0.0, uq - uj), "job_self_ms": max(0.0, uj - us),
            "stage_ms": us,
            "sql": len(sqls[t]), "jobs": len(jobs[t]), "stages": len(stages[t]),
            "tasks": sum(s["tasks"] for s in stages[t]),
            "planning_ms": sum(p["planning_ms"] for p in pl),
            "analyzed_nodes": max([p["analyzed_nodes"] for p in pl] or [0]),
            "rewrites": sum(p["rewrites"] for p in pl),
            "shuffle_read_mb": sum(s["shuffle_read_bytes"] for s in stages[t]) / 2**20,
            "shuffle_write_mb": sum(s["shuffle_write_bytes"] for s in stages[t]) / 2**20,
            "spill_mb": sum(s["spill_bytes"] for s in stages[t]) / 2**20,
            "cpu_s": sum(s["cpu_ns"] for s in stages[t]) / 1e9,
            "run_s": sum(s["run_ms"] for s in stages[t]) / 1e3,
        })
    rounds = max(1, m["rounds"])

    def per_round(k):
        return sum(o[k] for o in per_op) / rounds

    def per_op_med(k):
        return med([o[k] for o in per_op])

    metrics = {
        "setup.session_s": (m["setup"].get("session_s", 0.0), "s"),
        "setup.warmup_s": (m["setup"].get("warmup_s", 0.0), "s"),
        "disk_cache.bytes_mb": (m["disk_cache_bytes"] / 2**20, "MB"),
        "barriers.block_mem_mb": (m["block_mem_max_mb"], "MB"),
        "jvm.driver_gc_s": (m["gc_s"] / rounds, "s"),
        "graft.client_self_ms": (per_op_med("client_self_ms"), "ms"),
        "spark.sql_self_ms": (per_op_med("sql_self_ms"), "ms"),
        "spark.job_self_ms": (per_op_med("job_self_ms"), "ms"),
        "spark.stage_ms": (per_op_med("stage_ms"), "ms"),
        "spark.planning_ms": (per_op_med("planning_ms"), "ms"),
        "spark.sql_executions": (per_op_med("sql"), "count"),
        "spark.jobs": (per_op_med("jobs"), "count"),
        "spark.stages": (per_op_med("stages"), "count"),
        "spark.tasks": (per_op_med("tasks"), "count"),
        "spark.shuffle_read_mb": (per_round("shuffle_read_mb"), "MB"),
        "spark.shuffle_write_mb": (per_round("shuffle_write_mb"), "MB"),
        "spark.spill_mb": (per_round("spill_mb"), "MB"),
        "spark.executor_cpu_s": (per_round("cpu_s"), "s"),
        "spark.executor_run_s": (per_round("run_s"), "s"),
        "plans.rewrites": (per_round("rewrites"), "count"),
        "plans.analyzed_nodes_max": (max([o["analyzed_nodes"] for o in per_op] or [0]),
                                     "count"),
    }
    by_name = defaultdict(list)
    for o in per_op:
        by_name[o["op"]].append(o)
    summary = {
        "setup": m["setup"], "setup_s": m["setup_s"], "rounds": m["rounds"],
        "ops": {n: {k: round(med([o[k] for o in os_]), 3)
                    for k in os_[0] if k != "op"} | {"n": len(os_)}
                for n, os_ in sorted(by_name.items())},
        "setup_spans": {s["name"]: round(s["end"] - s["start"], 1)
                        for s in harness if s["layer"] == "setup"},
    }
    return metrics, summary
