"""Metric math: pure functions from the benchmark process's raw records
(iteration timings, trace spans/jobs/executions, streaming progress
reports) to the reported figures. ``test_metrics.py`` pins the rules."""
import re
import statistics

# -------------------------------------------------------------- intervals


def union(intervals):
    """Merge (start, end) intervals into disjoint sorted ones."""
    out = []
    for s, e in sorted(i for i in intervals if i[1] > i[0]):
        if out and s <= out[-1][1]:
            out[-1][1] = max(out[-1][1], e)
        else:
            out.append([s, e])
    return [tuple(i) for i in out]


def length(intervals):
    return sum(e - s for s, e in union(intervals))


def intersect(a, b):
    """Intersection of two interval sets."""
    a, b = union(a), union(b)
    out, i, j = [], 0, 0
    while i < len(a) and j < len(b):
        s, e = max(a[i][0], b[j][0]), min(a[i][1], b[j][1])
        if s < e:
            out.append((s, e))
        if a[i][1] < b[j][1]:
            i += 1
        else:
            j += 1
    return out


def driver_time(segments, job_intervals):
    """Wall time of `segments` not covered by any Spark job: overlapping
    jobs count once, and job time outside the segments does not count."""
    return length(segments) - length(intersect(segments, job_intervals))


# ------------------------------------------------------ span attribution

LAKE_STAGES = {
    "jobs_parsed": "stages.parse",
    "jobs_enriched_skills": "stages.skills",
    "jobs_enriched_salary": "stages.salary",
    "jobs_deduplicated": "stages.dedup",
    "jobs_enriched_sectors": "stages.sectors",
}
_LAKE_RE = re.compile(r"/lake/(jobs_\w+?)(?:/|$)")


def lake_stage(path):
    m = _LAKE_RE.search(path or "")
    return LAKE_STAGES.get(m.group(1)) if m else None


# calls the reducer splits into layer spans at their executions'
# boundaries, each with the span that owns the part after the last
# boundary (None: that part is left out)
SPLIT_CALLS = {"stages": None, "dedup": "dedup.cc"}


def exec_owner(ex, call_span):
    """The span a SQL execution belongs to. Inside the enrich call (span
    "stages"): the lake stage whose directory it writes, or else reads
    (a stage's probe). Inside the nearDedup call (span "dedup"): the
    connected-components edge stage is LSH time, because that write is
    where the LSH pair join runs. Otherwise the span of the call that
    submitted it."""
    w = ex.get("writes", "")
    if call_span == "stages":
        for path in [w] if w else ex.get("reads", []):
            stage = lake_stage(path)
            if stage:
                return stage
    if call_span == "dedup" and "graft-cc-" in w and w.rstrip("/").endswith("/pairs0"):
        return "dedup.lsh"
    return call_span


def attribute(trace, iters):
    """Per-span segments and jobs over the given traced iterations.

    Returns {span: (segments, jobs)}. A call in SPLIT_CALLS is cut at the
    ends of its owned executions: span X runs from the end of the
    previous span's last execution to the end of its own last one (so
    plan building and eager probes before a stage's write count to it),
    and the rest of the call goes to the call's tail span. The enrich
    call splits into the five lake stages; the nearDedup call into
    dedup.lsh (up to the end of the edge stage) and dedup.cc (the rest).
    A job belongs to its execution's owner, or else to the part of the
    split call it started in."""
    spans = [s for s in trace["spans"] if s["iter"] in iters]
    calls = {}
    for s in spans:
        calls.setdefault(s["name"], []).append((s["start"], s["end"]))
    jobs = trace["jobs"]
    jobs_by_exec = {}
    for j in jobs:
        jobs_by_exec.setdefault(j["exec"], []).append(j)

    def span_at(t):
        # innermost (latest-starting) call span open at time t
        best = None
        for s in spans:
            if s["start"] <= t <= s["end"] and (best is None or s["start"] >= best["start"]):
                best = s
        return best["name"] if best else None

    owners = {}
    for ex in trace["execs"]:
        if ex["end"] < 0:
            continue
        ej = jobs_by_exec.get(ex["id"], [])
        call = ej[0]["span"] if ej and ej[0]["span"] else span_at(ex["start"])
        if call is None:
            continue
        owners[ex["id"]] = exec_owner(ex, call)

    segs = {name: list(iv) for name, iv in calls.items() if name not in SPLIT_CALLS}
    bounds = sorted((ex["end"], owners[ex["id"]]) for ex in trace["execs"]
                    if owners.get(ex["id"]) not in (None, *SPLIT_CALLS))
    for call, tail in SPLIT_CALLS.items():
        for start, end in calls.get(call, []):
            last_end = {o: t for t, o in bounds if start <= t <= end}
            cur = start
            for o, t in sorted(last_end.items(), key=lambda kv: kv[1]):
                segs.setdefault(o, []).append((cur, t))
                cur = t
            if tail and cur < end:
                segs.setdefault(tail, []).append((cur, end))

    def job_owner(j):
        name = owners.get(j["exec"], j["span"])
        if name in SPLIT_CALLS:
            for part, sg in segs.items():
                if part.startswith(name + ".") and any(s <= j["start"] <= e for s, e in sg):
                    return part
        return name

    mine = {}
    for j in jobs:
        if j["end"] >= 0:
            mine.setdefault(job_owner(j), []).append(j)
    return {name: (union(sg), mine.get(name, [])) for name, sg in segs.items()}


def span_metrics(segments, jobs, n_iters):
    """The seven per-span figures, as means per traced iteration."""
    n = max(n_iters, 1)
    wall = length(segments) / 1000.0
    drv = driver_time(segments, [(j["start"], j["end"]) for j in jobs]) / 1000.0
    cpu = sum(j["cpu_ns"] for j in jobs) / 1e9
    run = sum(j["run_ms"] for j in jobs) / 1000.0
    return {
        "wall_s": wall / n,
        "driver_s": drv / n,
        "task_cpu_s": cpu / n,
        # time tasks ran without using CPU: I/O, shuffle fetch, locks
        "task_wait_s": max(run - cpu, 0.0) / n,
        "gc_s": sum(j["gc_ms"] for j in jobs) / 1000.0 / n,
        "shuffle_bytes": sum(j["shuffle_bytes"] for j in jobs) / n,
        "spill_bytes": sum(j["spill_bytes"] for j in jobs) / n,
    }


def scratch_metrics(trace, n_iters):
    """Scratch writes, attributed by the scratch-dir prefix."""
    n = max(n_iters, 1)
    by_exec = {}
    for j in trace["jobs"]:
        by_exec.setdefault(j["exec"], []).append(j)
    written, secs = 0, 0.0
    for ex in trace["execs"]:
        w = ex.get("writes", "")
        if "/scratch/" in w and "graft-" in w and ex["end"] >= 0:
            written += sum(j["out_bytes"] for j in by_exec.get(ex["id"], []))
            secs += (ex["end"] - ex["start"]) / 1000.0
    return {"scratch.bytes_written": written / n, "scratch.write_s": secs / n}


def batch_phases(progress, n_iters):
    """Median per-micro-batch phase times over the batches that took in
    data, and those batches' count per traced iteration."""
    batches = [p for p in progress if p.get("numInputRows", 0) > 0]

    def med(key):
        v = [p.get("durationMs", {}).get(key, 0) for p in batches]
        return statistics.median(v) if v else 0.0

    return {
        "streaming.batch.planning_ms": med("queryPlanning"),
        "streaming.batch.wal_commit_ms": med("walCommit"),
        "streaming.batch.latest_offset_ms": med("latestOffset"),
        "streaming.batch.add_batch_ms": med("addBatch"),
        "streaming.batches": len(batches) / max(n_iters, 1),
    }
