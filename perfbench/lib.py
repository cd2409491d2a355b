"""Pure logic of the benchmark: parsing the mains' output, percentiles,
span attribution from listener events, self time and per-layer counters.

Times are seconds since the epoch (floats) unless a name says `_ms`.
The tracer writes epoch milliseconds; `load_trace` converts them.
"""
import json
import math
import re

# Counters summed over a span's stages, in the tracer's stage-metric names.
STAGE_SUMS = ["task_run_ms", "gc_ms", "shuffle_write_bytes",
              "shuffle_read_bytes", "fetch_wait_ms", "spill_bytes",
              "input_bytes", "output_bytes", "tasks_ended", "tasks_failed"]


def json_lines(lines):
    """[(t, text)] -> [(t, obj)] for every line that is one JSON object."""
    out = []
    for t, text in lines:
        text = text.strip()
        if text.startswith("{") and text.endswith("}"):
            try:
                out.append((t, json.loads(text)))
            except ValueError:
                pass
    return out


def bench_output(lines):
    """Bench's per-row lines and its compact summary line.

    Returns (rows, summary): rows are dicts with name, sec, ok and
    `end`, the time the row's line arrived; summary is the last
    `{"metric":"total", ... "n_queries": ...}` object, or None.
    """
    rows, summary = [], None
    for t, o in json_lines(lines):
        if "query" in o and "sec" in o:
            rows.append({"name": o["query"], "sec": float(o["sec"]),
                         "ok": bool(o.get("ok", False)), "end": t})
        elif o.get("metric") == "total" and "n_queries" in o:
            summary = o
    return rows, summary


def pipeline_output(lines):
    """(arrival time, object) of a pipeline's final `{"pipeline": ...}` line."""
    found = [(t, o) for t, o in json_lines(lines) if "pipeline" in o]
    return found[-1] if found else (None, None)


_GC = re.compile(r"(\d+)([KMG])->(\d+)([KMG])\((\d+)([KMG])\)")
_MB = {"K": 1 / 1024, "M": 1, "G": 1024}


def peak_heap_after_gc(log_path):
    """Largest heap occupancy right after a collection, in MB, from a
    `-Xlog:gc` file; 0.0 when the JVM never collected."""
    peak = 0.0
    try:
        with open(log_path) as fh:
            for line in fh:
                for m in _GC.finditer(line):
                    peak = max(peak, int(m.group(3)) * _MB[m.group(4)])
    except OSError:
        pass
    return peak


def percentile(values, p):
    """Nearest-rank percentile: the smallest value with at least p% of
    the samples at or below it."""
    v = sorted(values)
    if not v:
        raise ValueError("percentile of no samples")
    return v[max(0, math.ceil(p * len(v) / 100) - 1)]


def tail_percentile(n, beyond=10):
    """The highest whole percentile (50..99) that leaves at least
    `beyond` of n samples above it, or None when n is too small."""
    for p in range(99, 49, -1):
        if n - math.ceil(p * n / 100) >= beyond:
            return p
    return None


def covered(intervals, lo, hi):
    """Length of [lo, hi] covered by the union of the intervals."""
    parts = sorted((max(a, lo), min(b, hi)) for a, b in intervals)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in parts:
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


def self_times(spans):
    """{span id: duration minus the part of it its children cover}."""
    children = {}
    for s in spans:
        if s.get("parent") is not None:
            children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    return {s["id"]: max(0.0, (s["end"] - s["start"]) -
                         covered(children.get(s["id"], []), s["start"], s["end"]))
            for s in spans}


def load_trace(path):
    """Reads a tracer file, converting epoch ms to epoch seconds."""
    with open(path) as fh:
        t = json.load(fh)
    for group in ("executions", "jobs", "stages"):
        for x in t[group]:
            x["start"] /= 1000.0
            x["end"] /= 1000.0
    t["app"]["start"] /= 1000.0
    t["app"]["end"] /= 1000.0
    return t


def counters(trace, exec_ids=None, job_ids=None):
    """Layer counters over the executions, jobs and stages selected.

    With no selection every event of the trace counts, and codegen comes
    from the application-wide compiler counters rather than the sum of
    per-execution deltas (which miss compiles outside SQL executions).
    """
    everything = exec_ids is None and job_ids is None
    execs = [e for e in trace["executions"]
             if everything or e["id"] in (exec_ids or ())]
    jobs = [j for j in trace["jobs"]
            if everything or j["id"] in (job_ids or ()) or
            (exec_ids and j["exec"] in exec_ids)]
    jids = {j["id"] for j in jobs}
    stages = [s for s in trace["stages"]
              if s["metrics"]["tasks_ended"] > 0 and (everything or s["job"] in jids)]
    c = {k: 0 for k in STAGE_SUMS}
    for s in stages:
        for k in STAGE_SUMS:
            c[k] += s["metrics"][k]
    c["task_cpu_ms"] = sum(s["metrics"]["task_cpu_ns"] for s in stages) / 1e6
    c["peak_task_mem_mb"] = max(
        [s["metrics"]["peak_task_mem"] for s in stages] or [0]) / 2 ** 20
    c["sql_executions"] = len(execs)
    c["jobs"] = len(jobs)
    c["stages"] = len(stages)
    c["single_task_stages"] = sum(1 for s in stages if s["tasks"] == 1)
    for phase in ("analysis", "optimization", "planning"):
        c[phase + "_ms"] = sum(e["phases_ms"].get(phase, 0) for e in execs)
    for k in ("exchanges", "smj", "bhj"):
        c[k] = sum(e["plan"].get(k, 0) for e in execs)
    if everything:
        c["compile_ms"] = trace["app"]["compile_ns"] / 1e6
        c["classes"] = trace["app"]["classes"]
    else:
        c["compile_ms"] = sum(e["compile_ns"] for e in execs) / 1e6
        c["classes"] = sum(e["classes"] for e in execs)
    return c


def roots(trace):
    return sorted((e for e in trace["executions"] if e["id"] == e["root"]),
                  key=lambda e: (e["start"], e["id"]))


def unattached_jobs(trace):
    """Jobs run outside any SQL execution (plain RDD actions)."""
    return [j for j in trace["jobs"] if j["exec"] < 0]


def _with_jobs(trace, spans):
    """Gives each span the ids of its executions (roots plus their
    sub-executions) and of the non-SQL jobs that started inside it, or
    inside its attribution window [`from`, end) when it has one."""
    by_root = {}
    for e in trace["executions"]:
        by_root.setdefault(e["root"], set()).add(e["id"])
    loose = unattached_jobs(trace)
    for s in spans:
        ids = set()
        for r in s.pop("roots"):
            ids |= by_root.get(r, {r})
        lo = s.pop("from", s["start"])
        s["exec_ids"] = ids
        s["job_ids"] = {j["id"] for j in loose if lo <= j["start"] < s["end"]}
    return spans


def attribute_rows(trace, rows):
    """Census rows as spans over [end - sec, end], `end` being the time
    the row's line arrived. The attribution windows tile the run: a row
    owns the root executions and loose jobs that started after the
    previous row's line arrived (the first row: at its own start) and
    up to its own line. A line arrives a few ms after the JVM timed its
    row, so windows of exactly [end - sec, end] would drop a row's first
    job on some runs and not on others."""
    spans = []
    for r in rows:
        start = r["end"] - r["sec"]
        spans.append({"name": r["name"], "start": start, "end": r["end"],
                      "from": spans[-1]["end"] if spans else start, "roots": []})
    for e in roots(trace):
        for s in spans:
            if s["from"] <= e["start"] <= s["end"]:
                s["roots"].append(e["id"])
                break
    return _with_jobs(trace, spans)


def is_main_count(e, main_file):
    """A `count()` called from the pipeline's own source file."""
    return e["func"] == "count" and e["description"].startswith(
        f"count at {main_file}:")


def attribute_stages(trace, spec, main_file, start, end):
    """Pipeline stages as spans, attributed from outside.

    `spec` lists (name, kind, n) in build order: the stage ends with the
    n-th root execution of its kind after the previous stage, where kind
    "count" is a count() the pipeline itself calls to report the stage
    and kind "write" is any execution that writes files (the stage then
    also keeps the driver-side work up to the next execution). Each
    stage starts where the previous one ended, `start` for the first,
    and the last one runs to `end`. Returns None when the executions do
    not fit the spec.
    """
    rs = roots(trace)
    spans, i, prev = [], 0, start
    for name, kind, n in spec:
        members, seen = [], 0
        while i < len(rs) and seen < n:
            e = rs[i]
            i += 1
            members.append(e)
            if (kind == "count" and is_main_count(e, main_file)) or \
                    (kind == "write" and e["writes"]):
                seen += 1
        if seen < n:
            return None
        stop = members[-1]["end"]
        if kind == "write" and i < len(rs):
            stop = rs[i]["start"]
        spans.append({"name": name, "start": prev, "end": stop,
                      "roots": [e["id"] for e in members]})
        prev = stop
    # anything after the last reported count is the last stage's tail
    spans[-1]["roots"] += [e["id"] for e in rs[i:]]
    spans[-1]["end"] = max([spans[-1]["end"], end] + [e["end"] for e in rs[i:]])
    return _with_jobs(trace, spans)
