"""Turn the driver's raw result (spans, listener snapshots, job times and
stream progress) into end-to-end and per-layer metrics.

A span is one call into a layer entry point, recorded with its parent, its
wall interval (epoch ms) and the cumulative listener counters at both edges.
A span's self time is its wall time minus its children's; its self delta
of a counter is its own delta minus its children's. Layer self times plus
`runner.unattributed_s` add up to the traced pass wall time.
"""
import statistics

LAYERS = ["io", "functions", "queries", "adapters", "runner", "streaming"]


def median(values, default=0.0):
    values = [v for v in values if v is not None]
    return statistics.median(values) if values else default


# ---- span arithmetic -----------------------------------------------------

def children_of(spans):
    kids = {s["id"]: [] for s in spans}
    for s in spans:
        if s["parent"] in kids:
            kids[s["parent"]].append(s)
    return kids


def self_time_s(span, kids):
    dur = span["t1"] - span["t0"]
    return (dur - sum(k["t1"] - k["t0"] for k in kids[span["id"]])) / 1000.0


def delta(span, key):
    return span["c1"].get(key, 0) - span["c0"].get(key, 0)


def self_delta(span, kids, key):
    return delta(span, key) - sum(delta(k, key) for k in kids[span["id"]])


def jobs_in(span, kids, jobs):
    """(start ms, job id) of jobs started inside the span but in none of
    its children, in start order."""
    inner = [(k["t0"], k["t1"]) for k in kids[span["id"]]]
    return sorted((t, j) for j, t in jobs
                  if span["t0"] <= t <= span["t1"]
                  and not any(a <= t <= b for a, b in inner))


def pre_first_job_s(span, kids, jobs):
    starts = jobs_in(span, kids, jobs)
    end = starts[0][0] if starts else span["t1"]
    return (end - span["t0"]) / 1000.0


def job_gaps_s(span, kids, jobs, job_ends):
    """Driver time between one job's end and the next job's start."""
    ends = dict(job_ends)
    gap, last_end = 0.0, None
    for t, j in jobs_in(span, kids, jobs):
        if last_end is not None and t > last_end:
            gap += t - last_end
        e = ends.get(j, t)
        last_end = e if last_end is None else max(last_end, e)
    return gap / 1000.0


# ---- per-layer metrics ---------------------------------------------------

def layer_metrics(result, traced_pass, untraced_wall_s, cores):
    spans = [s for s in result["spans"] if s["pass"] == traced_pass["index"]]
    kids = children_of(spans)
    jobs = [tuple(j) for j in result.get("jobs", [])]
    job_ends = [tuple(j) for j in result.get("job_ends", [])]
    wall_s = traced_pass["wall_s"]
    m = {}

    def spans_named(prefix):
        return [s for s in spans if s["name"].startswith(prefix)]

    def total_self(prefix):
        return sum(self_time_s(s, kids) for s in spans_named(prefix))

    def total_delta(prefix, key):
        return sum(self_delta(s, kids, key) for s in spans_named(prefix))

    for layer in LAYERS:
        m[f"{layer}.self_s"] = total_self(layer + ".")
    top = sum((s["t1"] - s["t0"]) / 1000.0 for s in spans if s["parent"] == -1)
    m["runner.unattributed_s"] = wall_s - top
    m["runner.trace_overhead_s"] = wall_s - untraced_wall_s

    m["io.session_s"] = result["session_s"]
    m["io.first_job_s"] = result["first_job_s"]
    m["io.cache_release_s"] = total_self("io.cache_release")

    ensures = [self_time_s(s, kids) for s in spans_named("functions.ensure")]
    m["functions.ensure_s"] = median(ensures)

    # queries: graftQuery loads (DataFrame construction) and saves
    m["queries.build_s"] = total_self("queries.load")
    m["queries.build_jobs"] = total_delta("queries.load", "jobs")
    saves = spans_named("queries.save")
    m["queries.pre_first_job_s"] = sum(pre_first_job_s(s, kids, jobs) for s in saves)
    m["queries.job_gap_s"] = sum(job_gaps_s(s, kids, jobs, job_ends) for s in saves)
    q_stages = total_delta("queries.", "stages")
    m["queries.tasks_per_stage"] = total_delta("queries.", "tasks") / q_stages if q_stages else 0.0
    m["queries.jobs"] = total_delta("queries.", "jobs")
    m["queries.stages"] = q_stages
    m["queries.exec_run_s"] = total_delta("queries.", "run_ms") / 1000.0
    m["queries.exec_cpu_s"] = total_delta("queries.", "cpu_ns") / 1e9
    save_wall = sum((s["t1"] - s["t0"]) / 1000.0 for s in saves)
    m["queries.core_util"] = (total_delta("queries.save", "run_ms") / 1000.0 / (save_wall * cores)
                              if save_wall else 0.0)
    m["queries.shuffle_write_bytes"] = total_delta("queries.", "shuffle_write")
    m["queries.shuffle_read_bytes"] = total_delta("queries.", "shuffle_read")
    m["queries.spill_bytes"] = total_delta("queries.", "spill")

    # adapters: file and JDBC loads and saves
    a_saves = spans_named("adapters.save")
    m["adapters.load_s"] = total_self("adapters.load")
    m["adapters.save_s"] = total_self("adapters.save")
    m["adapters.pre_first_job_s"] = sum(pre_first_job_s(s, kids, jobs) for s in a_saves)
    m["adapters.exec_cpu_s"] = total_delta("adapters.", "cpu_ns") / 1e9
    a_wall = sum((s["t1"] - s["t0"]) / 1000.0 for s in a_saves)
    m["adapters.core_util"] = (total_delta("adapters.save", "run_ms") / 1000.0 / (a_wall * cores)
                               if a_wall else 0.0)
    m["adapters.input_bytes"] = total_delta("adapters.", "in_bytes")
    m["adapters.input_records"] = total_delta("adapters.", "in_records")
    m["adapters.output_bytes"] = total_delta("adapters.", "out_bytes")
    m["adapters.output_records"] = total_delta("adapters.", "out_records")
    m["adapters.output_files"] = sum(s.get("files", 0) for s in a_saves)
    m["adapters.out_per_in_bytes"] = (m["adapters.output_bytes"] / m["adapters.input_bytes"]
                                      if m["adapters.input_bytes"] else 0.0)
    m["adapters.jdbc_write_s"] = sum(self_time_s(s, kids) for s in a_saves
                                     if s["attrs"].get("adapter", "").startswith("jdbc"))
    m["adapters.jdbc_read_s"] = sum(self_time_s(s, kids) for s in a_saves
                                    if s["attrs"].get("source_adapter", "").startswith("jdbc"))
    m["adapters.task_retries"] = total_delta("adapters.", "retried_tasks") + \
        total_delta("adapters.", "failed_tasks")

    # runner: verify tasks
    m["runner.verify_s"] = total_self("runner.verify")
    m["runner.verify_rows"] = total_delta("runner.verify", "in_records")

    m.update(stream_metrics(result, spans, kids, traced_pass))
    return m


def _iso_ms(ts):
    """Epoch ms of a Spark ISO-8601 UTC timestamp ('...T..:..:..[.fff]Z')."""
    from datetime import datetime, timezone
    ts = ts.rstrip("Z")
    fmt = "%Y-%m-%dT%H:%M:%S.%f" if "." in ts else "%Y-%m-%dT%H:%M:%S"
    return datetime.strptime(ts, fmt).replace(tzinfo=timezone.utc).timestamp() * 1000.0


def stream_metrics(result, spans, kids, traced_pass):
    stages = [s for s in spans if s["name"] == "streaming.stage"]
    m = {"streaming.stage_s": sum(self_time_s(s, kids) for s in stages)}
    keys = ["start_s", "trigger_s", "planning_s", "commit_s", "stop_s",
            "input_rows", "state_rows", "state_bytes"]
    for k in keys:
        m[f"streaming.{k}"] = 0.0
    if not stages:
        return m
    t_lo, t_hi = traced_pass["t0_ms"], traced_pass["t0_ms"] + traced_pass["wall_s"] * 1000.0
    started, progress = [], {}
    for e in result.get("stream_events", []):
        if e["event"] == "started":
            t = _iso_ms(e["timestamp"])
            if t_lo <= t <= t_hi:
                started.append(t)
        elif e["event"] == "progress":
            p = e["progress"]
            t = _iso_ms(p["timestamp"])
            if t_lo <= t <= t_hi:
                progress.setdefault(p["id"], []).append((t, p))
    for s in stages:
        st = [t for t in started if s["t0"] <= t <= s["t1"]]
        if st:
            m["streaming.start_s"] += (min(st) - s["t0"]) / 1000.0
    for _, plist in progress.items():
        plist.sort(key=lambda x: x[0])
        for t, p in plist:
            d = p.get("durationMs", {})
            m["streaming.trigger_s"] += d.get("triggerExecution", 0) / 1000.0
            m["streaming.planning_s"] += d.get("queryPlanning", 0) / 1000.0
            m["streaming.commit_s"] += (d.get("walCommit", 0) + d.get("commitOffsets", 0)) / 1000.0
            m["streaming.input_rows"] += p.get("numInputRows", 0)
        last_t, last = plist[-1]
        ops = last.get("stateOperators", [])
        m["streaming.state_rows"] += sum(o.get("numRowsTotal", 0) for o in ops)
        m["streaming.state_bytes"] += sum(o.get("memoryUsedBytes", 0) for o in ops)
        end = last_t + last.get("durationMs", {}).get("triggerExecution", 0)
        owner = [s for s in stages if s["t0"] <= last_t <= s["t1"]]
        if owner:
            m["streaming.stop_s"] += max(0.0, owner[0]["t1"] - end) / 1000.0
    return m
