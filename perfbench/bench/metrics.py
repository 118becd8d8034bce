"""Arithmetic on a run's raw record: percentiles, interval unions, self
time, stream latency, and the end-to-end and per-layer metric sets.

Times in the raw record are epoch milliseconds. Client spans come from the
benchmark's own clock; job, stage and trigger intervals come from Spark's
listener events.
"""
import os
import json
import re
import statistics

# Percentiles a tail may be reported at, highest last.
TAIL_LADDER = (50.0, 75.0, 80.0, 90.0, 95.0, 99.0, 99.5, 99.9, 99.99)
MIN_BEYOND = 10


def percentile(values, p):
    """Nearest-rank percentile of a non-empty sequence; `p` has at most two
    decimals, and the rank is computed in integers."""
    s = sorted(values)
    k = max(1, -(-round(p * 100) * len(s) // 10000))
    return s[k - 1]


def tail(values):
    """(value, percentile, samples beyond) for the highest percentile of
    TAIL_LADDER with at least MIN_BEYOND samples strictly above it. With
    too few samples for any, the median is returned with its count."""
    best = None
    for p in TAIL_LADDER:
        v = percentile(values, p)
        beyond = sum(1 for x in values if x > v)
        if beyond >= MIN_BEYOND:
            best = (v, p, beyond)
    if best is None:
        v = percentile(values, 50.0)
        best = (v, 50.0, sum(1 for x in values if x > v))
    return best


def clip(intervals, lo, hi):
    return [(max(a, lo), min(b, hi)) for a, b in intervals if min(b, hi) > max(a, lo)]


def union_ms(intervals):
    """Total length covered by a set of (start, end) intervals."""
    total, cur_a, cur_b = 0.0, None, None
    for a, b in sorted(intervals):
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_time(span, children):
    """A span's duration minus the part of it its children cover."""
    a, b = span
    return (b - a) - union_ms(clip(children, a, b))


def driver_gap(wall, stages):
    """Wall time of a span minus the union of stage intervals inside it."""
    return self_time(wall, stages)


_USER = re.compile(r"^f(\d+)_\d+$")


def file_of(user):
    m = _USER.match(user or "")
    return int(m.group(1)) if m else None


def file_latencies(due_ms_by_file, batches):
    """Latency (ms) of each published file, from the time it was due to the
    commit of the sink batch holding its last post. `batches` is a list of
    (commit_ms, [user, ...]); posts of files not in `due_ms_by_file` are
    skipped."""
    commit = {}
    for commit_ms, users in batches:
        for u in users:
            f = file_of(u)
            if f is not None and f in due_ms_by_file:
                commit[f] = max(commit.get(f, commit_ms), commit_ms)
    return {f: c - due_ms_by_file[f] for f, c in commit.items()}


def read_sink(path):
    """The file sink's committed batches, in order, from `_spark_metadata`:
    [(batch_id, commit_ms, [part file path, ...])], each file listed once,
    in the batch that first committed it."""
    meta = os.path.join(path, "_spark_metadata")
    logs = []
    for name in os.listdir(meta):
        m = re.match(r"^(\d+)(\.compact)?$", name)
        if m:
            logs.append((int(m.group(1)), name))
    seen, out = set(), []
    for batch, name in sorted(logs):
        full = os.path.join(meta, name)
        commit_ms = os.stat(full).st_mtime_ns / 1e6
        files = []
        with open(full) as fh:
            for line in fh.read().splitlines()[1:]:
                if not line.strip():
                    continue
                entry = json.loads(line)
                p = entry["path"]
                if entry.get("action", "add") == "add" and p not in seen:
                    seen.add(p)
                    files.append(p.replace("file://", "").replace("file:", ""))
        out.append((batch, commit_ms, files))
    return out


def _median(xs):
    return statistics.median(xs) if xs else 0.0


# ---------------------------------------------------------------- batch

def pass_seconds(raw):
    p = raw["pass"]
    return (p["end_ms"] - p["start_ms"]) / 1000.0


def batch_end_to_end(raw):
    lat = [q["end_ms"] - q["start_ms"] for q in raw["pass"]["queries"] if "error" not in q]
    t = tail(lat) if lat else (0.0, 50.0, 0)
    return {
        "setup_s": _median(raw["setup_s"]),
        "pass_s": pass_seconds(raw),
        "latency_p50_ms": _median(lat),
        "latency_tail_ms": t[0],
        "peak_rss_mb": raw["peak_rss_mb"],
        "peak_heap_mb": raw["peak_heap_mb"],
    }, {"latency_tail_percentile": t[1], "latency_tail_beyond": t[2],
        "latency_samples": len(lat)}


def _index_events(events):
    jobs, stages, qes = {}, {}, []
    for e in events:
        k = e["kind"]
        if k == "job_start":
            jobs.setdefault(e["job"], {}).update(
                start=e["ms"], group=e["group"], stages=e["stages"],
                stream_query=e.get("stream_query", ""),
                broadcast="broadcast exchange" in e.get("tags", ""))
        elif k == "job_end":
            jobs.setdefault(e["job"], {})["end"] = e["ms"]
        elif k == "stage":
            stages[(e["stage"], e["attempt"])] = e
        elif k == "qe":
            qes.append(e)
    stage_job = {}
    for jid, j in jobs.items():
        for s in j.get("stages", []):
            stage_job.setdefault(s, jid)
    for key, s in stages.items():
        s["job"] = stage_job.get(key[0])
    return jobs, stages, qes


STAGE_SUMS = ("tasks", "run_ms", "cpu_ns", "gc_ms", "spill_bytes",
              "shuffle_read_bytes", "fetch_wait_ms", "shuffle_write_bytes",
              "input_bytes", "input_rows")


def query_layers(q, jobs, stages, qes):
    """Layer record of one batch query span. Jobs belong to the query when
    they carry its job group, or start inside its span (broadcast builds run
    under their own group)."""
    a, c, b = q["start_ms"], q.get("construct_end_ms", q["end_ms"]), q["end_ms"]
    mine = {jid: j for jid, j in jobs.items() if "start" in j and (
        j.get("group") == q["group"] or (a <= j["start"] <= b and j.get("group") != "check"))}
    st = [s for s in stages.values() if s.get("job") in mine and s["start_ms"] > 0]
    iv = [(s["start_ms"], s["end_ms"]) for s in st]
    job_iv = [(j["start"], j.get("end", j["start"])) for j in mine.values()]
    action_iv = clip(iv, c, b)
    final = [e for e in qes if c - 1 <= e["phases"].get("planning", [0, 0])[1] <= b + 1]
    qe = final[-1] if final else None

    def phase(name):
        if not qe or name not in qe["phases"]:
            return 0.0
        s, e = qe["phases"][name]
        return float(e - s)

    wall = b - a
    construct = c - a
    stage_union_action = union_ms(action_iv)
    gap_action = (b - c) - stage_union_action
    rec = {
        "name": q["name"], "wall_ms": wall, "construct_ms": construct,
        "construct_jobs": sum(1 for j in mine.values() if a <= j["start"] < c),
        "analysis_ms": phase("analysis"), "optimization_ms": phase("optimization"),
        "planning_ms": phase("planning"),
        "plan_nodes": qe["plan_nodes"] if qe else 0,
        "exchanges": qe["exchanges"] if qe else 0,
        "jobs": len(mine), "stages": len(st),
        "broadcast_jobs": sum(1 for j in mine.values() if j.get("broadcast")),
        "stage_union_ms": union_ms(clip(iv, a, b)),
        "driver_gap_ms": driver_gap((a, b), iv),
        "stage_union_action_ms": stage_union_action,
        "driver_gap_action_ms": gap_action,
        "residual_ms": wall - (construct + stage_union_action + gap_action),
        "self_query_ms": self_time((a, b), [(a, c), (c, b)]),
        "self_construct_ms": self_time((a, c), clip(job_iv, a, c)),
        "self_action_ms": self_time((c, b), clip(job_iv, c, b)),
        "self_job_ms": sum(self_time(jv, [(s["start_ms"], s["end_ms"]) for s in st
                                          if s.get("job") == jid])
                           for jid, jv in zip(mine.keys(), job_iv)),
        "self_stage_ms": sum(s["end_ms"] - s["start_ms"] for s in st),
    }
    for k in STAGE_SUMS:
        rec[k] = sum(s.get(k, 0) for s in st)
    return rec


# Per-layer metrics with no layer to read in a workload, set to 0 there.
STREAM_ONLY = ("stream.trigger_ms", "stream.add_batch_ms", "stream.query_planning_ms",
               "stream.get_batch_ms", "stream.wal_commit_ms", "stream.batches",
               "stream.backlog_files", "state.rows", "state.mb", "state.commit_ms",
               "state.rows_dropped_late", "self.run_ms", "self.trigger_ms")
# The stream's micro-batches report no QueryExecutionListener events, the
# stream caches nothing, and its queries are constructed during set-up.
BATCH_ONLY = ("queries.construct_jobs", "catalyst.analysis_ms", "catalyst.optimization_ms",
              "catalyst.planning_ms", "catalyst.plan_nodes", "catalyst.exchanges",
              "cache.persisted_bytes", "cache.persisted_rdds", "self.pass_ms",
              "self.construct_ms", "self.action_ms", "self.job_ms")


def batch_per_layer(raw):
    """Per-layer metrics of the pass, the per-query layer records, and the
    largest share of a query's wall time its split leaves unexplained."""
    jobs, stages, qes = _index_events(raw["events"])
    p = raw["pass"]
    recs = [query_layers(q, jobs, stages, qes) for q in p["queries"] if "error" not in q]

    def total(key):
        return sum(r[key] for r in recs)

    m = dict.fromkeys(STREAM_ONLY, 0.0)
    m.update({
        "queries.construct_ms": total("construct_ms"),
        "queries.construct_jobs": total("construct_jobs"),
        "catalyst.analysis_ms": total("analysis_ms"),
        "catalyst.optimization_ms": total("optimization_ms"),
        "catalyst.planning_ms": total("planning_ms"),
        "catalyst.plan_nodes": total("plan_nodes"),
        "catalyst.exchanges": total("exchanges"),
        "scheduler.jobs": total("jobs"),
        "scheduler.stages": total("stages"),
        "scheduler.tasks": total("tasks"),
        "scheduler.broadcast_jobs": total("broadcast_jobs"),
        "scheduler.stage_union_ms": total("stage_union_ms"),
        "scheduler.driver_gap_ms": total("driver_gap_ms"),
        "executor.run_ms": total("run_ms"),
        "executor.cpu_ms": total("cpu_ns") / 1e6,
        "executor.gc_ms": total("gc_ms"),
        "executor.spill_bytes": total("spill_bytes"),
        "executor.cpu_ns_per_row": total("cpu_ns") / max(total("input_rows"), 1.0),
        "shuffle.read_bytes": total("shuffle_read_bytes"),
        "shuffle.write_bytes": total("shuffle_write_bytes"),
        "shuffle.fetch_wait_ms": total("fetch_wait_ms"),
        "tables.input_bytes": total("input_bytes"),
        "tables.input_rows": total("input_rows"),
        "cache.persisted_bytes": p["cache"]["persisted_bytes"],
        "cache.persisted_rdds": p["cache"]["persisted_rdds"],
        "self.pass_ms": self_time((p["start_ms"], p["end_ms"]),
                                  [(q["start_ms"], q["end_ms"]) for q in p["queries"]]),
        "self.query_ms": total("self_query_ms"),
        "self.construct_ms": total("self_construct_ms"),
        "self.action_ms": total("self_action_ms"),
        "self.job_ms": total("self_job_ms"),
        "self.stage_ms": total("self_stage_ms"),
        "trace.pass_s": pass_seconds(raw),
    })
    worst = max(recs, key=lambda r: abs(r["residual_ms"]) / max(r["wall_ms"], 1e-9)) if recs else None
    return m, recs, {"max_residual_share": abs(worst["residual_ms"]) / max(worst["wall_ms"], 1e-9)
                          if worst else 0.0}


# ---------------------------------------------------------------- stream

def stream_latencies(raw, sink_batches, users_by_file):
    """Per-file latency samples of the fixed-rate phase, from sink batches
    given as (batch, commit_ms, [part file]) and the users each part file
    holds. A file is one request: its posts are published together."""
    due = {p["file"]: p["due_ms"] for p in raw["published"]}
    batches = [(commit, [u for f in files for u in users_by_file.get(f, [])])
               for _, commit, files in sink_batches]
    return list(file_latencies(due, batches).values())


WARM_ROUNDS_SKIPPED = 1


def drain_seconds(raw):
    """Median drain time of the capacity rounds after the first, JIT-cold
    one."""
    rounds = raw["drain_rounds"][WARM_ROUNDS_SKIPPED:] or raw["drain_rounds"]
    return _median([(r["end_ms"] - r["start_ms"]) / 1000.0 for r in rounds])


def stream_end_to_end(raw, latencies):
    t = tail(latencies) if latencies else (0.0, 50.0, 0)
    drain_s = drain_seconds(raw)
    rows = raw["files_per_round"] * raw["posts_per_file"]
    return {
        "setup_s": _median(raw["setup_s"]),
        "pass_s": drain_s,
        "latency_p50_ms": _median(latencies),
        "latency_tail_ms": t[0],
        "peak_rss_mb": raw["peak_rss_mb"],
        "peak_heap_mb": raw["peak_heap_mb"],
    }, {"capacity_rows_per_s": rows / drain_s if drain_s > 0 else 0.0,
        "latency_tail_percentile": t[1], "latency_tail_beyond": t[2],
        "latency_samples": len(latencies),
        "offered_rows_per_s": raw["posts_per_file"] * 1000.0 / raw["interval_ms"],
        "generator_late_ms_max": max((p["published_ms"] - p["due_ms"] for p in raw["published"]),
                                     default=0.0)}


def backlog_max(raw, progress, query="file_output"):
    """Largest number of published but unprocessed files seen at the end of
    any trigger of `query` during the fixed-rate phase."""
    ppf = raw["posts_per_file"]
    pub = sorted(p["published_ms"] for p in raw["published"])
    r0 = raw["rate"]["start_ms"]
    done, worst = 0, 0.0
    for e in sorted((e for e in progress if e["query"] == query), key=lambda e: e["batch"]):
        done += e["input_rows"]
        end = e["start_ms"] + e["durations"].get("triggerExecution", 0)
        if end < r0:
            continue
        published = raw["backlog_files"] + sum(1 for t in pub if t <= end)
        worst = max(worst, published - done / ppf)
    return worst


def stream_per_layer(raw):
    events = raw["events"]
    jobs, stages, _ = _index_events(events)
    progress = [e for e in events if e["kind"] == "progress"]
    a, b = raw["drain_rounds"][0]["start_ms"], raw["rate"]["end_ms"]
    st = [s for s in stages.values() if s["start_ms"] > 0 and a <= s["start_ms"] <= b]
    iv = [(s["start_ms"], s["end_ms"]) for s in st]
    in_run = [e for e in progress if a <= e["start_ms"] <= b]
    data = [e for e in in_run if e["input_rows"] > 0]

    def dur(key):
        return _median([e["durations"].get(key, 0) for e in data])

    last = {}
    for e in progress:
        if e["query"] not in last or e["batch"] >= last[e["query"]]["batch"]:
            last[e["query"]] = e
    posts = (raw["backlog_files"] + raw["rate_files"]) * raw["posts_per_file"]
    trig = {}
    for e in in_run:
        s = e["start_ms"]
        trig.setdefault(e["query"], []).append((s, s + e["durations"].get("triggerExecution", 0)))
    # a trigger's children are the stages of its own query's jobs
    names = {e["id"]: e["query"] for e in in_run}
    own_stages = {}
    for s in st:
        q = names.get(jobs.get(s.get("job"), {}).get("stream_query"))
        if q:
            own_stages.setdefault(q, []).append((s["start_ms"], s["end_ms"]))
    sums = {k: sum(s.get(k, 0) for s in st) for k in STAGE_SUMS}
    run_jobs = [j for j in jobs.values() if "start" in j and a <= j["start"] <= b]
    m = dict.fromkeys(BATCH_ONLY, 0.0)
    m.update({
        "queries.construct_ms": raw["construct_ms"],
        "scheduler.jobs": len(run_jobs),
        "scheduler.stages": len(st),
        "scheduler.tasks": sums["tasks"],
        "scheduler.broadcast_jobs": sum(1 for j in run_jobs if j.get("broadcast")),
        "scheduler.stage_union_ms": union_ms(iv),
        "scheduler.driver_gap_ms": driver_gap((a, b), iv),
        "executor.run_ms": sums["run_ms"],
        "executor.cpu_ms": sums["cpu_ns"] / 1e6,
        "executor.gc_ms": sums["gc_ms"],
        "executor.spill_bytes": sums["spill_bytes"],
        "executor.cpu_ns_per_row": sums["cpu_ns"] / posts if posts else 0.0,
        "shuffle.read_bytes": sums["shuffle_read_bytes"],
        "shuffle.write_bytes": sums["shuffle_write_bytes"],
        "shuffle.fetch_wait_ms": sums["fetch_wait_ms"],
        "tables.input_bytes": sums["input_bytes"],
        "tables.input_rows": sums["input_rows"],
        "stream.trigger_ms": dur("triggerExecution"),
        "stream.add_batch_ms": dur("addBatch"),
        "stream.query_planning_ms": dur("queryPlanning"),
        "stream.get_batch_ms": dur("getBatch") + dur("latestOffset"),
        "stream.wal_commit_ms": dur("walCommit") + dur("commitOffsets"),
        "stream.batches": len(in_run),
        "stream.backlog_files": backlog_max(raw, progress),
        "state.rows": sum(s["rows"] for e in last.values() for s in e["state"]),
        "state.mb": sum(s["memory_bytes"] for e in last.values() for s in e["state"]) / 1e6,
        "state.commit_ms": sum(s["commit_ms"] for e in in_run for s in e["state"]),
        "state.rows_dropped_late": sum(s["dropped_late"] for e in in_run for s in e["state"]),
        "self.run_ms": self_time((a, b), [iv_ for q in trig.values() for iv_ in q]),
        "self.query_ms": sum(self_time((a, b), q) for q in trig.values()),
        "self.trigger_ms": sum(self_time(t, own_stages.get(q, [])) for q, ts in trig.items()
                               for t in ts),
        "self.stage_ms": sum(s["end_ms"] - s["start_ms"] for s in st),
        "trace.pass_s": drain_seconds(raw),
    })
    per_query = {q: {"batches": len([e for e in in_run if e["query"] == q]),
                     "trigger_ms_median": _median([e["durations"].get("triggerExecution", 0)
                                                   for e in data if e["query"] == q]),
                     "backlog_files_max": backlog_max(raw, progress, q)}
                 for q in raw["queries"]}
    return m, per_query
