#!/usr/bin/env python3
"""Benchmark of the release build, driving the program's own mains.

    python3 perfbench/run.py --workload census|release|retrieval \
        --seed N --seconds S --trace 0|1

Builds the program from this checkout, generates the input tables from
the seed, runs the workload's main in fresh JVMs (one at a time) until S
seconds have passed, checks the outputs and prints one JSON result as
the last line of standard output. With --trace 1 the JVMs carry the
listener tracer and the result holds the per-layer metrics instead of
the end-to-end ones. Everything the run writes stays under
`.bench_build/` in this checkout. See perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import build  # noqa: E402
import checks  # noqa: E402
import gen  # noqa: E402
import lib  # noqa: E402

ROOT, WORK = build.ROOT, build.WORK
# A run must end within 180 s of its start; the budget starts once the
# program is built, since only the first run in a checkout builds.
DEADLINE_S = 170

# The census: a fixed sample of graft.Bench rows, every sixth query of
# each SparkEntry.modules family in name order, run as two Bench
# invocations per pass. The stream family is left out: its queries stage
# their inputs under a hard-coded /tmp path, outside the checkout.
CENSUS = [
    {"core": ["distinct_rows", "fn_case_trim", "fn_math", "setop_except"],
     "join": ["join_anti", "join_interval_binned"],
     "agg": ["agg_approx_quantiles", "agg_distinct_set", "agg_min_pair",
             "agg_release_stats", "agg_tree_ranks"],
     "window": ["agg_grouping_cube", "window_funnel", "window_rownum"],
     "text": ["text_bm25", "text_fingerprint", "text_mojibake",
              "text_quality_classifier", "text_url_normalize"],
     "dedup": ["dedup_components", "dedup_embedding", "dedup_ngram_jaccard",
               "dedup_substring_spans"]},
    {"sample": ["sample_curriculum", "sample_pack_sequences"],
     "vector": ["ann_cosine_topk", "ann_ivf_kmeans_topk", "ann_pq_recall",
                "embed_kmeans"],
     "multimodal": ["fn_gzip_roundtrip", "multimodal_meta"],
     "kernel": ["kernel_match_merge"],
     "sink": ["fanout_docs", "fmt_superfamily", "sink_zorder_scan"],
     "xref": ["agg_rollup_salted"],
     "export": ["ebisearch_docs", "relnotes_members"],
     "taxamart": ["mart_proteome_counts", "mart_taxa_per_entry"],
     "goa": ["goa_ipr2go2uni"],
     "interaction": ["intact_interactions"],
     "matchexport": ["features_matches"],
     "graph": ["graph_bfs_depth"],
     "cdc": ["cdc_snapshot_diff"]},
]

# Pipeline stages for span attribution, see lib.attribute_stages.
RELEASE_SPEC = [(s.replace(".", "_"), "write" if s == "match_complete.xml" else "count", 1)
                for s in checks.RELEASE_STAGES]
RETRIEVAL_SPEC = [("index_build", "count", 3), ("index_append", "count", 1),
                  ("search", "count", 1), ("recall", "count", 2),
                  ("stream_rerank", "count", 1), ("rerank_recall", "count", 2)]

WORKLOADS = {
    "census": {"main": "graft.Bench", "min_passes": 1},
    "release": {"main": "graft.ReleasePipeline", "min_passes": 2,
                "spec": RELEASE_SPEC, "file": "ReleasePipeline.scala"},
    "retrieval": {"main": "graft.RetrievalPipeline", "min_passes": 3,
                  "spec": RETRIEVAL_SPEC, "file": "RetrievalPipeline.scala"},
}

END_TO_END = {"setup_s": "s", "run_s": "s"}
PER_LAYER = {
    "catalyst.analysis_ms": ("analysis_ms", "ms"),
    "catalyst.optimization_ms": ("optimization_ms", "ms"),
    "catalyst.planning_ms": ("planning_ms", "ms"),
    "codegen.compile_ms": ("compile_ms", "ms"),
    "codegen.classes": ("classes", "count"),
    "scheduler.sql_executions": ("sql_executions", "count"),
    "scheduler.jobs": ("jobs", "count"),
    "scheduler.stages": ("stages", "count"),
    "scheduler.single_task_stages": ("single_task_stages", "count"),
    "scheduler.tasks": ("tasks_ended", "count"),
    "exec.task_run_ms": ("task_run_ms", "ms"),
    "exec.task_cpu_ms": ("task_cpu_ms", "ms"),
    "exec.gc_ms": ("gc_ms", "ms"),
    "exec.cpu_util": ("cpu_util", "ratio"),
    "exec.peak_task_mem_mb": ("peak_task_mem_mb", "MB"),
    "shuffle.write_bytes": ("shuffle_write_bytes", "bytes"),
    "shuffle.read_bytes": ("shuffle_read_bytes", "bytes"),
    "shuffle.fetch_wait_ms": ("fetch_wait_ms", "ms"),
    "spill.bytes": ("spill_bytes", "bytes"),
    "io.input_bytes": ("input_bytes", "bytes"),
    "io.output_bytes": ("output_bytes", "bytes"),
    "plan.exchanges": ("exchanges", "count"),
    "plan.smj": ("smj", "count"),
    "plan.bhj": ("bhj", "count"),
    "harness.row_p50_s": ("row_p50_s", "s"),
    "harness.row_tail_s": ("row_tail_s", "s"),
    "jvm.cpu_s": ("cpu_s", "s"),
    "jvm.peak_heap_mb": ("peak_heap_mb", "MB"),
    "jvm.peak_rss_mb": ("peak_rss_mb", "MB"),
    "host.steal_pm": ("steal_pm", "permille"),
    "trace.run_s": ("run_s", "s"),
}

ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")]


def cpus():
    return len(os.sched_getaffinity(0))


def heap():
    """Half of MemTotal, clamped to 2-8 GB (the tier-1 test sizing)."""
    try:
        with open("/proc/meminfo") as fh:
            kb = next(int(l.split()[1]) for l in fh if l.startswith("MemTotal:"))
        g = kb // 2097152
    except (OSError, StopIteration, ValueError):
        g = 2
    return f"{min(8, max(2, g))}g"


def cpu_ticks():
    """(busy, steal) jiffies from /proc/stat, as graft.Bench counts them."""
    try:
        with open("/proc/stat") as fh:
            c = [int(x) for x in fh.readline().split()[1:]]
        return c[0] + c[1] + c[2] + c[7], c[7]
    except (OSError, IndexError, ValueError):
        return None


def steal_pm(t0, t1):
    if t0 is None or t1 is None or t1[0] <= t0[0]:
        return 0.0
    return (t1[1] - t0[1]) * 1000.0 / (t1[0] - t0[0])


def git(*args):
    if not os.path.isdir(os.path.join(ROOT, ".git")) or not shutil.which("git"):
        return None
    r = subprocess.run(["git", "-C", ROOT, *args], stdout=subprocess.PIPE,
                       stderr=subprocess.DEVNULL, text=True)
    return r.stdout if r.returncode == 0 else None


def jvm_flags():
    return ADD_OPENS + [f"-Xmx{heap()}", "-XX:ReservedCodeCacheSize=512m",
                        "-XX:+UseCodeCacheFlushing", "-XX:-UsePerfData",
                        "-Dspark.ui.enabled=false",
                        "-Dspark.sql.session.timeZone=UTC"]


def invoke(b, main, args, env, run_dir, n, deadline, trace):
    """Runs one main in a fresh JVM. Returns a record of the invocation."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    trace_path = os.path.join(run_dir, f"trace-{n}.json") if trace else None
    gc_log = os.path.join(run_dir, f"gc-{n}.log")
    cmd = ["java", *jvm_flags(), f"-Xlog:gc:file={gc_log}",
           f"-Djava.io.tmpdir={tmp}", f"-Dspark.hadoop.hadoop.tmp.dir={tmp}"]
    if trace:
        cmd += ["-Dspark.extraListeners=perfbench.TraceListener",
                "-Dspark.sql.queryExecutionListeners=perfbench.QueryTraceListener",
                f"-Dperfbench.trace={trace_path}"]
    cmd += ["-cp", b["classpath"], main, *args]
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cpus()),
               SPARK_LOCAL_DIRS=os.path.join(run_dir, "local"),
               SPARK_GRAFT_BENCH_DETAIL=os.path.join(run_dir, f"bench-detail-{n}.json"),
               **env)
    ticks0, t_spawn = cpu_ticks(), time.time()
    with open(os.path.join(run_dir, f"stderr-{n}.log"), "w") as err:
        p = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=err, cwd=run_dir,
                             env=env, text=True, bufsize=1)
        # a run stopped from outside takes its JVM with it
        signal.signal(signal.SIGTERM, lambda *_: (p.kill(), p.wait(), sys.exit(143)))
        killer = threading.Timer(max(1.0, deadline - time.time()), p.kill)
        killer.start()
        lines = []
        for line in iter(p.stdout.readline, ""):
            lines.append((time.time(), line))
        _, status, ru = os.wait4(p.pid, 0)
        p.returncode = os.waitstatus_to_exitcode(status)
        killer.cancel()
        p.stdout.close()
    return {"main": main, "args": args, "spawn": t_spawn, "exit": time.time(),
            "rc": p.returncode, "lines": lines, "cpu_s": ru.ru_utime + ru.ru_stime,
            "rss_mb": ru.ru_maxrss / 1024.0, "heap_mb": lib.peak_heap_after_gc(gc_log),
            "steal": (ticks0, cpu_ticks()), "trace": trace_path}


def ensure_data(seed):
    d = os.path.join(WORK, "data", f"seed-{seed}")
    if not os.path.exists(os.path.join(d, "DONE")):
        shutil.rmtree(d, ignore_errors=True)
        gen.write(d + ".tmp", seed)
        os.replace(d + ".tmp", d)
        open(os.path.join(d, "DONE"), "w").close()
    return d


def expected_release(b, data_dir, run_dir):
    """DuckDB oracle counts of the release stages, cached per table
    directory and build (never inside the table directory)."""
    key = hashlib.sha256(os.path.abspath(data_dir).encode()).hexdigest()[:16]
    path = os.path.join(WORK, "oracle", f"release-{key}-{b['hash'][:16]}.json")
    os.makedirs(os.path.dirname(path), exist_ok=True)
    if not os.path.exists(path):
        r = subprocess.run(["java", "-XX:-UsePerfData", "-cp", b["classpath"],
                            "perfbench.OracleSql", *checks.RELEASE_ORACLE.values()],
                           stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                           text=True, cwd=run_dir, check=True)
        sql = json.loads(r.stdout.strip().splitlines()[-1])
        with open(path, "w") as fh:
            json.dump(checks.oracle_counts(data_dir, sql, run_dir), fh)
    with open(path) as fh:
        return json.load(fh)


def census_pass(b, data_dir, run_dir, n, deadline, trace):
    invs = []
    for k, half in enumerate(CENSUS):
        only = [q for qs in half.values() for q in qs]
        invs.append(invoke(b, "graft.Bench", [], {"SPARK_GRAFT_SF_DIR": data_dir,
                                                 "SPARK_GRAFT_ONLY": ",".join(only)},
                           run_dir, f"{n}.{k}", deadline, trace))
    for inv in invs:
        inv["rows"], inv["summary"] = lib.bench_output(inv["lines"])
        first = inv["rows"][0] if inv["rows"] else None
        inv["work_start"] = first["end"] - first["sec"] if first else inv["exit"]
        inv["work_end"] = inv["rows"][-1]["end"] if inv["rows"] else inv["exit"]
        inv["run_s"] = inv["summary"]["value"] if inv["summary"] else 0.0
    return invs


def pipeline_pass(b, w, data_dir, run_dir, n, deadline, trace):
    out_dir = os.path.join(run_dir, f"out-{n}")
    inv = invoke(b, w["main"], [data_dir, out_dir], {}, run_dir, n, deadline, trace)
    t, o = lib.pipeline_output(inv["lines"])
    inv["result"], inv["out_dir"] = o, out_dir
    inv["run_s"] = o["sec"] if o else 0.0
    inv["work_end"] = t if o else inv["exit"]
    inv["work_start"] = inv["work_end"] - inv["run_s"]
    return [inv]


def spans_of(w, inv, trace, families):
    """Workload spans (census rows grouped by family, or pipeline stages)
    plus the span tree of the invocation. Returns (unit spans, tree), or
    (None, None) when the pipeline's executions do not fit its stages."""
    if w == "census":
        units = lib.attribute_rows(trace, inv["rows"])
    else:
        spec = WORKLOADS[w]
        units = lib.attribute_stages(trace, spec["spec"], spec["file"],
                                     inv["work_start"], inv["work_end"])
        if units is None:  # the pipeline no longer matches the spec
            return None, None
    tree = [{"id": "invocation", "name": inv["main"], "parent": None,
             "start": inv["spawn"], "end": inv["exit"]},
            {"id": "setup", "name": "setup", "parent": "invocation",
             "start": inv["spawn"], "end": inv["work_start"]},
            {"id": "body", "name": "body", "parent": "invocation",
             "start": inv["work_start"], "end": inv["work_end"]}]
    exec_parent = {}
    for k, u in enumerate(units):
        parent = "body"
        if w == "census":
            fam = families.get(u["name"], "other")
            parent = f"family:{fam}"
            if not any(s["id"] == parent for s in tree):
                tree.append({"id": parent, "name": fam, "parent": "body",
                             "start": u["start"], "end": u["end"]})
            fs = next(s for s in tree if s["id"] == parent)
            fs["start"], fs["end"] = min(fs["start"], u["start"]), max(fs["end"], u["end"])
        uid = f"unit:{k}"
        tree.append({"id": uid, "name": u["name"], "parent": parent,
                     "start": u["start"], "end": u["end"],
                     "counters": lib.counters(trace, u["exec_ids"], u["job_ids"])})
        for e in u["exec_ids"]:
            exec_parent[e] = uid
        for j in u["job_ids"]:
            exec_parent[("job", j)] = uid
    for e in trace["executions"]:
        parent = f"exec:{e['root']}" if e["root"] != e["id"] else exec_parent.get(e["id"], "invocation")
        tree.append({"id": f"exec:{e['id']}", "name": e["description"], "parent": parent,
                     "start": e["start"], "end": max(e["end"], e["start"])})
    for j in trace["jobs"]:
        parent = f"exec:{j['exec']}" if j["exec"] >= 0 else exec_parent.get(("job", j["id"]), "invocation")
        tree.append({"id": f"job:{j['id']}", "name": f"job {j['id']}", "parent": parent,
                     "start": j["start"], "end": max(j["end"], j["start"])})
    for s in trace["stages"]:
        if s["metrics"]["tasks_ended"] > 0 and s["job"] >= 0:
            tree.append({"id": f"stage:{s['id']}.{s['attempt']}", "name": s["name"],
                         "parent": f"job:{s['job']}", "start": s["start"], "end": s["end"],
                         "counters": {"tasks": s["tasks"], **s["metrics"]}})
    ids = {s["id"] for s in tree}
    for s in tree:  # an event whose parent was never seen hangs off the root
        if s["parent"] is not None and s["parent"] not in ids:
            s["parent"] = "invocation"
    selfs = lib.self_times(tree)
    for s in tree:
        s["self_s"] = selfs[s["id"]]
    return units, tree


def pass_metrics(w, invs, traced, families):
    """End-to-end figures of one pass, plus its per-layer counters when
    traced. `unattributed` counts the invocations whose stages could not
    be told apart; their pass has no per-layer figures."""
    m = {"run_s": sum(i["run_s"] for i in invs),
         "cpu_s": sum(i["cpu_s"] for i in invs),
         "peak_rss_mb": max(i["rss_mb"] for i in invs),
         "peak_heap_mb": max(i["heap_mb"] for i in invs),
         "steal_pm": steal_pm(invs[0]["steal"][0], invs[-1]["steal"][1]),
         "unattributed": 0}
    if not traced:
        return m, []
    total, durations, trees = None, [], []
    for inv in invs:
        trace = lib.load_trace(inv["trace"])
        units, tree = spans_of(w, inv, trace, families)
        if units is None:
            m["unattributed"] += 1
            continue
        trees.append({"main": inv["main"], "spans": tree})
        exec_ids = set().union(*(u["exec_ids"] for u in units))
        job_ids = set().union(*(u["job_ids"] for u in units))
        c = lib.counters(trace, exec_ids, job_ids)
        total = c if total is None else {
            k: (max(total[k], v) if k == "peak_task_mem_mb" else total[k] + v)
            for k, v in c.items()}
        durations += [u["end"] - u["start"] for u in units]
    if m["unattributed"]:
        return m, trees
    m.update(total)
    m["cpu_util"] = total["task_cpu_ms"] / max(1e-9, m["run_s"] * 1000.0 * cpus())
    m["row_p50_s"] = lib.percentile(durations, 50)
    p = lib.tail_percentile(len(durations))
    m["row_tail_s"] = lib.percentile(durations, p) if p else max(durations)
    m["row_tail_pct"] = p or 100
    return m, trees


def run(args):
    w = WORKLOADS[args.workload]
    t_start = time.time()
    status0 = git("status", "--porcelain")
    b = build.ensure_built()
    t_built = time.time()
    deadline = t_built + DEADLINE_S
    data_dir = os.path.abspath(args.data) if args.data else ensure_data(args.seed)
    stamp = time.strftime("%Y%m%dT%H%M%S", time.gmtime(t_start))
    run_dir = os.path.join(WORK, "runs", f"{args.workload}-s{args.seed}-t{args.trace}-{stamp}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    families = {q: f for half in CENSUS for f, qs in half.items() for q in qs}
    expected = expected_release(b, data_dir, run_dir) if args.workload == "release" else None

    t_measure = time.time()
    passes = []
    while True:
        t_pass = time.time()
        if args.workload == "census":
            invs = census_pass(b, data_dir, run_dir, len(passes), deadline, args.trace)
        else:
            invs = pipeline_pass(b, w, data_dir, run_dir, len(passes), deadline, args.trace)
        passes.append(invs)
        took = time.time() - t_pass
        if any(i["rc"] != 0 for i in invs):
            break
        done = time.time() - t_measure >= args.seconds and len(passes) >= w["min_passes"]
        if done or time.time() + took * 1.2 > deadline:
            break

    invs = [i for p in passes for i in p]
    crashed = [i for i in invs if i["rc"] != 0]
    if args.workload == "census":
        asked = [[q for qs in half.values() for q in qs] for p in passes for half in CENSUS]
        res, attempted, failed = checks.census(
            [(i["rows"], i["summary"]) for i in invs], asked)
    elif crashed or any(i["result"] is None for i in invs):
        res = []
    elif args.workload == "release":
        res = checks.release([i["result"]["stages"] for i in invs], expected,
                             invs[-1]["out_dir"])
    else:
        res = checks.retrieval([i["result"] for i in invs], invs[-1]["out_dir"], data_dir)
    res += [(f"exit_{k}", i["rc"] == 0, f"rc={i['rc']}") for k, i in enumerate(invs)]
    # a crashed JVM may have left no trace; its run is reported incorrect
    traced = bool(args.trace) and not crashed
    per_pass = [pass_metrics(args.workload, p, traced, families) for p in passes]
    misfits = sum(m["unattributed"] for m, _ in per_pass)
    if misfits:
        res.append(("stage_attribution", False,
                    f"{misfits} invocation(s) do not fit the stages of {w['file']}"))
    if args.workload != "census":
        attempted, failed = len(res), sum(1 for _, ok, _ in res if not ok)
    status1 = git("status", "--porcelain")
    res.append(("tracked_files_unchanged", status0 == status1, ""))
    res.append(("sources_unchanged", build.source_hash() == b["hash"], b["hash"][:16]))
    correct = all(ok for _, ok, _ in res) and failed == 0

    setups = [i["work_start"] - i["spawn"] for i in invs]
    common = set.intersection(*(set(m) for m, _ in per_pass))
    figures = {k: statistics.median(m[k] for m, _ in per_pass)
               for k in common if isinstance(per_pass[0][0][k], (int, float))}
    figures["setup_s"] = statistics.median(setups)
    wanted = ({k: (v[0], v[1]) for k, v in PER_LAYER.items()} if args.trace
              else {k: (k, u) for k, u in END_TO_END.items()})
    metrics = {name: {"value": figures.get(src, 0.0), "unit": unit}
               for name, (src, unit) in wanted.items()}

    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "commit": (git("rev-parse", "HEAD") or "unknown").strip(),
        "source_hash": b["hash"], "classes": b["classes"], "tracer": b["tracer"],
        "data": data_dir, "build_s": t_built - t_start, "cpus": cpus(), "heap": heap(),
        "jvm_flags": jvm_flags(),
        "master": f"local[{cpus()}]", "load": "closed loop, one client, one JVM at a time",
        "checks": [{"name": n, "ok": ok, "detail": str(d)} for n, ok, d in res],
        "passes": [{"metrics": m, "invocations": [
            {k: i[k] for k in ("main", "args", "spawn", "work_start", "work_end", "exit",
                               "rc", "run_s", "cpu_s", "rss_mb", "heap_mb", "trace")}
            for i in p]} for (m, _), p in zip(per_pass, passes)],
        "rows": [[{k: r[k] for k in ("name", "sec", "ok")} for r in i.get("rows", [])]
                 for i in invs],
        "traces": [t for _, ts in per_pass for t in ts],
        "metrics": metrics,
    }
    with open(os.path.join(run_dir, "result.json"), "w") as fh:
        json.dump(record, fh, indent=1, default=str)
    # keep the record, logs and traces; drop the bulky pipeline outputs
    for name in os.listdir(run_dir):
        path = os.path.join(run_dir, name)
        if os.path.isdir(path):
            shutil.rmtree(path, ignore_errors=True)
    for n, ok, d in res:
        if not ok:
            print(f"[perfbench] check failed: {n}: {d}", file=sys.stderr)
    print(f"[perfbench] {args.workload} seed={args.seed} trace={args.trace} "
          f"passes={len(passes)} result={os.path.relpath(run_dir, ROOT)}/result.json",
          file=sys.stderr)
    return {"correct": correct, "attempted": max(1, attempted), "failed": failed,
            "metrics": metrics}


def oracle_gate(seed):
    """The full correctness gate on one seed's tables: graft.Verify writes
    every query's output, tools/check.py compares each with DuckDB.
    Takes minutes, so it is a separate mode, not part of a run."""
    b = build.ensure_built()
    data_dir = ensure_data(seed)
    run_dir = os.path.join(WORK, "runs", f"oracle-s{seed}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    out = os.path.join(run_dir, "verify")
    inv = invoke(b, "graft.Verify", [data_dir, out], {}, run_dir, "verify",
                 time.time() + 3600, False)
    r = subprocess.run([sys.executable, os.path.join(ROOT, "tools", "check.py"),
                        data_dir, out], stdout=subprocess.PIPE, text=True)
    summary = r.stdout.strip().splitlines()[-1] if r.stdout.strip() else ""
    print(f"[perfbench] oracle gate seed={seed}: verify rc={inv['rc']}, {summary}")
    return inv["rc"] == 0 and r.returncode == 0 and summary.endswith(" 0 fail")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=20)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--data", metavar="DIR",
                    help="read the tables from DIR instead of generating them "
                         "from the seed (DIR is only read)")
    ap.add_argument("--oracle", action="store_true",
                    help="run the full oracle gate on the seed's tables instead")
    args = ap.parse_args()
    if not args.oracle and not args.workload:
        ap.error("--workload is required")
    try:
        if args.oracle:
            sys.exit(0 if oracle_gate(args.seed) else 1)
        out = run(args)
    except build.BuildError as e:
        sys.exit(f"[perfbench] build failed: {e}")
    print(json.dumps(out))


if __name__ == "__main__":
    main()
