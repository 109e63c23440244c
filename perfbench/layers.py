"""Per-layer metrics of a traced run, computed from the JVM's record log
(`records.jsonl`, see scala/perfbench/Trace.scala) and the load
generator's request log. Times in the record log are epoch microseconds.

Every metric is printed on every workload; a layer the workload does not
exercise reads 0.
"""
import json
import os
import statistics

import stats


def load(run_dir):
    path = os.path.join(run_dir, "records.jsonl")
    if not os.path.exists(path):
        return []
    with open(path) as fh:
        return [json.loads(line) for line in fh if line.strip()]


def window(recs):
    marks = {r["label"]: r for r in recs if r["kind"] == "mark"}
    return marks["start"]["time"], marks["end"]["time"]


def covered(lo, hi, intervals):
    """Length of [lo, hi] covered by the union of the intervals."""
    total, cur = 0, lo
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= cur:
            continue
        total += b - max(a, cur)
        cur = b
    return total


def self_time(start, end, children):
    return (end - start) - covered(start, end, children)


def med(xs):
    return statistics.median(xs) if xs else 0.0


def mean(xs):
    return sum(xs) / len(xs) if xs else 0.0


def executions(recs):
    """SQL executions: id -> dict(id, start, end, rid, write, from_json). The
    plan class comes from the QueryExecutionListener record of the same
    execution."""
    qes = {r["ref"]: r for r in recs if r["kind"] == "qe"}
    ex = {}
    for r in recs:
        if r["kind"] == "exec_start":
            ex[r["id"]] = dict(id=r["id"], start=r["time"], end=None, rid=r["rid"],
                               write=False, from_json=False)
    for r in recs:
        if r["kind"] == "exec_end" and r["id"] in ex:
            e = ex[r["id"]]
            e["end"] = r["time"]
            q = qes.get(r["qe"])
            if q:
                e["write"], e["from_json"] = q["write"], q["from_json"]
    return {k: v for k, v in ex.items() if v["end"] is not None}


def per_request(recs, items):
    """Layer split of each timed request: span, executions, jobs, tasks."""
    handles = {r["rid"]: r for r in recs if r["kind"] == "handle"}
    ex = executions(recs)
    by_rid = {}
    for e in ex.values():
        by_rid.setdefault(e["rid"], []).append(e)
    jobs = [r for r in recs if r["kind"] == "job"]
    tasks = [r for r in recs if r["kind"] == "task"]
    out = []
    for it in items:
        h = handles.get(it["rid"])
        if h is None:
            continue
        es = sorted(by_rid.get(it["rid"], []), key=lambda e: e["start"])
        writes = [e for e in es if e["write"]]
        parses = [e for e in es if e["from_json"] and not e["write"]]
        write_ids = {str(e["id"]) for e in writes}
        rid_jobs = [j for j in jobs if j["rid"] == it["rid"]]
        write_stages = {s for j in rid_jobs if str(j["exec"]) in write_ids for s in j["stages"]}
        rtt = (it["done"] - it["send"]) * 1e6
        out.append(dict(
            kind=it["kind"],
            transport_ms=(rtt - (h["end"] - h["start"])) / 1e3,
            self_ms=self_time(h["start"], h["end"], [(e["start"], e["end"]) for e in es]) / 1e3,
            parse_ms=sum(e["end"] - e["start"] for e in parses) / 1e3,
            write_ms=sum(e["end"] - e["start"] for e in writes) / 1e3,
            write_wait_ms=(writes[0]["start"] - parses[-1]["end"]) / 1e3
            if writes and parses else 0.0,
            json_parses=sum(1 for e in es if e["from_json"]),
            jobs=len(rid_jobs),
            write_tasks=sum(1 for t in tasks if t["stage"] in write_stages),
        ))
    return out


def spark_window(recs, ops, wall_us, cores):
    """Spark-wide layer metrics over the timed window, per timed operation."""
    w0, w1 = window(recs)
    qes = [r for r in recs if r["kind"] == "qe" and w0 <= r["end"] <= w1]
    stage_sub = {r["id"]: r["submitted"] for r in recs if r["kind"] == "stage"}
    tasks = [r for r in recs if r["kind"] == "task" and w0 <= r["launch"] <= w1]
    jobs = [r for r in recs if r["kind"] == "job" and w0 <= r["time"] <= w1]
    stages = [r for r in recs if r["kind"] == "stage" and r["submitted"] and w0 <= r["submitted"] <= w1]
    busy = sum(t["finish"] - t["launch"] for t in tasks)
    per = max(ops, 1)
    waits = [t["launch"] - stage_sub[t["stage"]] for t in tasks if stage_sub.get(t["stage"])]
    phase = lambda k: sum(q["phases"].get(k, 0) for q in qes) / per  # noqa: E731
    return {
        "spark_sql.analysis_ms": (phase("analysis"), "ms"),
        "spark_sql.optimization_ms": (phase("optimization"), "ms"),
        "spark_sql.planning_ms": (phase("planning"), "ms"),
        "spark_sql.execution_ms": (sum(q["duration_ns"] for q in qes) / 1e6 / per, "ms"),
        "spark_sql.jobs": (len(jobs) / per, "count"),
        "spark_sql.stages": (len(stages) / per, "count"),
        "spark_sql.tasks": (len(tasks) / per, "count"),
        "spark_sql.task_wait_ms": (mean(waits) / 1e3, "ms"),
        "spark_sql.task_busy_ms": (busy / 1e3 / per, "ms"),
        "spark_sql.core_util": (busy / (wall_us * cores) if wall_us else 0.0, "ratio"),
        "spark_sql.files_read": (sum(q["files_read"] for q in qes) / per, "count"),
        "spark_sql.listing_ms": (sum(q["listing_ms"] for q in qes) / per, "ms"),
        "spark_sql.shuffle_bytes": (sum(t["shuffle_bytes"] for t in tasks) / per, "B"),
        "spark_sql.spill_bytes": (sum(t["spill_bytes"] for t in tasks) / per, "B"),
    }, sum(q["rows_read"] for q in qes)


def per_layer(run, traced_e2e, untraced_e2e, queries, cores):
    recs = run["records"]
    w0, w1 = window(recs)
    items = run["log"].items
    ops = max(run["ops"], 1)
    reqs = per_request(recs, items)
    posts = [r for r in reqs if r["kind"] == "ingest"]
    n_posts = max(len(posts), 1)
    sp, rows_read = spark_window(recs, run["ops"], w1 - w0, cores)
    # operators: every timed pass returns the rows the check pass wrote
    returned = run["rows_returned"] * run["ops"] if "rows_returned" in run else \
        sum(i.get("rows_returned", 0) for i in items)
    marks = {r["label"]: r for r in recs if r["kind"] == "mark"}
    m = {
        "gateway_socket.transport_ms": (med([r["transport_ms"] for r in reqs]), "ms"),
        "gateway.write_wait_ms": (med([r["write_wait_ms"] for r in posts]), "ms"),
        "gateway.self_ms": (med([r["self_ms"] for r in reqs]), "ms"),
        "ingest.parse_ms": (med([r["parse_ms"] for r in posts]), "ms"),
        "ingest.write_ms": (med([r["write_ms"] for r in posts]), "ms"),
        "ingest.json_parses": (mean([r["json_parses"] for r in posts]), "count"),
        "ingest.write_tasks": (mean([r["write_tasks"] for r in posts]), "count"),
        "ingest.files_written": ((run["files1"] - run["files0"]) / n_posts if posts else 0.0, "count"),
        "ingest.bytes_written": ((run["bytes1"] - run["bytes0"]) / n_posts if posts else 0.0, "B"),
        "ingest.jobs": (mean([r["jobs"] for r in posts]), "count"),
        "kql.translate_ms": (med(run.get("kql_ms", [])), "ms"),
    }
    m.update(sp)
    m["spark_sql.rows_read_per_row_returned"] = (rows_read / returned if returned else 0.0, "ratio")
    qtimes = {}
    for r in recs:
        if r["kind"] == "query":
            qtimes.setdefault(r["name"], []).append((r["end"] - r["start"]) / 1e6)
    for mod in sorted(set(queries.values())):
        m[f"ops.{mod}_s"] = (sum(med(qtimes.get(n, [])) for n in queries if queries[n] == mod), "s")
    for n in sorted(queries):
        m[f"ops.{n}_s"] = (med(qtimes.get(n, [])), "s")
    m["jvm.gc_ms"] = ((marks["end"]["gc_ms"] - marks["start"]["gc_ms"]) / ops, "ms")
    m["jvm.alloc_mb"] = ((marks["end"]["alloc_bytes"] - marks["start"]["alloc_bytes"]) / 2**20 / ops, "MB")
    late = run.get("late_ms", [])
    m["loadgen.late_ms"] = (stats.percentile(late, 99) if late else 0.0, "ms")
    base = untraced_e2e["op_p50_ms"]
    m["trace.op_p50_ms"] = (traced_e2e["op_p50_ms"], "ms")
    m["trace.overhead_pct"] = ((traced_e2e["op_p50_ms"] / base - 1) * 100 if base else 0.0, "%")
    return m
