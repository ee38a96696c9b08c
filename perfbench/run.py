#!/usr/bin/env python3
"""Interactive-query benchmark for graft.

    python3 perfbench/run.py --workload lookup|live|recompute \
        --seed N --seconds S --trace 0|1

Run from the repository root (or anywhere: paths resolve from this file).
Builds the program and the benchmark JVM when their sources changed
(`perfbench/build.py`), generates the workload's inputs
from the seed, runs one fresh JVM, checks every answer against aggregates
computed here, and prints one line per metric followed by one JSON line.
See perfbench/README.md for the workloads and metrics.
"""
import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
from collections import defaultdict

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import check  # noqa: E402
import inputs  # noqa: E402
from build import BUILD, build, fail  # noqa: E402

WORK = os.path.join(BUILD, "work")
JVM_TIMEOUT_S = 150

N_SYMBOLS = 1500
LOOKUP_EVENTS = 100_000
LIVE_CHUNKS = 48
LIVE_CHUNK_EVENTS = 500
LIVE_INTERVAL_MS = 500
LIVE_TRIGGER_MS = 2000
LIVE_MAX_FILES = 64
RECOMPUTE_EVENTS = 100_000
RECOMPUTE_QUERIES = ["q_aggregate", "q_window_range", "q_changelog_per_record", "q_serde_roundtrip"]

END_TO_END = [("setup_s", "s"), ("qps", "1/s"), ("latency_p50_ms", "ms"), ("retained_heap_mb", "MB")]
STREAM_PHASES = [("stream.batch_ms", "triggerExecution"), ("stream.addBatch_ms", "addBatch"),
                 ("stream.latestOffset_ms", "latestOffset"), ("stream.getBatch_ms", "getBatch"),
                 ("stream.queryPlanning_ms", "queryPlanning"), ("stream.walCommit_ms", "walCommit"),
                 ("stream.commitOffsets_ms", "commitOffsets")]
PER_LAYER = [
    ("MaterializedState.read_ms", "ms"), ("MaterializedState.ensure_s", "s"),
    ("Tables.events_ms", "ms"), ("JsonPathPredicate.compile_ms", "ms"),
    ("InteractiveQueries.build_ms", "ms"), ("catalyst.analysis_ms", "ms"),
    ("catalyst.optimization_ms", "ms"), ("catalyst.planning_ms", "ms"), ("exec.run_ms", "ms"),
    ("exec.jobs_per_query", "count"), ("exec.tasks_per_query", "count"),
    ("exec.files_read_per_query", "count"), ("exec.scan_rows_per_result_row", "ratio"),
    ("exec.exchanges_per_query", "count"), ("exec.shuffle_bytes_per_query", "bytes"),
    ("exec.spill_bytes_per_query", "bytes"), ("jvm.gc_ms_per_s", "ms/s"),
] + [(name, "ms") for name, _ in STREAM_PHASES] + [
    ("state.rows_total", "count"), ("state.commit_ms", "ms"), ("state.memory_bytes", "bytes"),
    ("snapshot.read_ms", "ms"), ("changelog.batches", "count"), ("generator.lag_ms", "ms"),
    ("ingest.backlog_max_files", "count"),
]
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
             "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
             "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


# ---- inputs ----

def prepare(workload, seed, clients):
    """Writes the workload's inputs; returns (JVM settings, prefix aggregates)."""
    data = os.path.join(WORK, "data")
    if workload == "lookup":
        ev = inputs.make_events(seed, LOOKUP_EVENTS, N_SYMBOLS)
        first = os.path.join(data, "s0", "events.parquet")
        inputs.write_events(ev, first)
        for i in (1, 2):
            os.makedirs(os.path.join(data, f"s{i}"))
            os.link(first, os.path.join(data, f"s{i}", "events.parquet"))
        return ({"data": data, "symbols": N_SYMBOLS, "clients": clients},
                inputs.Prefixes(ev, N_SYMBOLS))
    if workload == "live":
        probe = (seed * 7919) % N_SYMBOLS
        ev = inputs.make_events(seed, LIVE_CHUNKS * LIVE_CHUNK_EVENTS, N_SYMBOLS, probe, LIVE_CHUNKS)
        inputs.write_events(ev, os.path.join(data, "events.parquet"))
        return ({"data": data, "symbols": N_SYMBOLS, "clients": max(1, clients - 2),
                 "chunks": LIVE_CHUNKS, "chunk_events": LIVE_CHUNK_EVENTS,
                 "interval_ms": LIVE_INTERVAL_MS, "trigger_ms": LIVE_TRIGGER_MS,
                 "max_files": LIVE_MAX_FILES, "probe_key": check.sym_name(probe)},
                inputs.Prefixes(ev, N_SYMBOLS, LIVE_CHUNKS))
    ev = inputs.make_events(seed, RECOMPUTE_EVENTS, N_SYMBOLS)
    inputs.write_events(ev, os.path.join(data, "events.parquet"))
    return {"data": data, "queries": ",".join(RECOMPUTE_QUERIES)}, None


def clean():
    """Removes every earlier run's state: the benchmark's work directory and
    the snapshot and streaming state the program keeps under target/."""
    for d in (WORK, os.path.join(ROOT, "target", "state"), os.path.join(ROOT, "target", "streamstate")):
        shutil.rmtree(d, ignore_errors=True)
    os.makedirs(os.path.join(WORK, "tmp"))


def run_jvm(classpath, settings):
    opens = [a for p in ADD_OPENS for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    cmd = (["java"] + opens + ["-Xmx3g", f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')}",
                               "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
                               "-cp", classpath, "perfbench.PerfBench"]
           + [f"{k}={v}" for k, v in settings.items()])
    log_path = os.path.join(WORK, "jvm.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=ROOT, stdout=log, stderr=subprocess.STDOUT,
                                start_new_session=True)
        try:
            rc = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            rc = None
        finally:
            if proc.poll() is None:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
    if rc != 0:
        with open(log_path) as f:
            print(f.read()[-4000:], file=sys.stderr)
        fail("benchmark JVM timed out" if rc is None else f"benchmark JVM exited with {rc}")
    with open(log_path) as f:
        log_text = f.read()
    with open(os.path.join(WORK, "result.json")) as f:
        res = json.load(f)
    with open(os.path.join(WORK, "answers.jsonl")) as f:
        answers = [json.loads(line) for line in f if line.strip()]
    return res, answers, log_text


# ---- metrics ----

def med(xs):
    return statistics.median(xs) if xs else 0.0


def mean(xs):
    return statistics.mean(xs) if xs else 0.0


def percentile(xs, q):
    xs = sorted(xs)
    return xs[min(len(xs) - 1, int(q * len(xs)))]


def per_kind_p50(samples):
    """Mean over query kinds of each kind's median latency: recompute's
    queries differ in cost, so a plain median would jump between them."""
    by_kind = defaultdict(list)
    for s in samples:
        by_kind[s["kind"]].append(s["lat_ms"])
    return statistics.mean(med(v) for v in by_kind.values())


def busy_qps(samples):
    """Each closed-loop client's completed queries per second it spent in
    them, summed over clients."""
    by_client = defaultdict(list)
    for s in samples:
        by_client[s["client"]].append(s["lat_ms"])
    return sum(1000.0 * len(v) / sum(v) for v in by_client.values())


def freshness(answers, res):
    """Per appended chunk: ms from the chunk file appearing to the first probe
    answer that includes it."""
    seen = sorted((a["t_ms"], a["prefix"]) for a in answers
                  if a.get("label") == "probe" and a.get("prefix") is not None)
    out = []
    for chunk, appear_ms, _lag in res["appear"]:
        hit = next((t for t, p in seen if p > chunk and t >= appear_ms), None)
        if hit is not None:
            out.append(hit - appear_ms)
    return out


def end_to_end(workload, res, samples, answers):
    window_ms = 1000.0 * res["window_s"]
    timed = [s for s in samples if not s["error"] and s["start_ms"] < window_ms]
    if not timed:
        fail("no query completed in the measured window", 1)
    p50 = per_kind_p50(timed) if workload == "recompute" else med([s["lat_ms"] for s in timed])
    m = {"setup_s": res["session_ready_s"] + statistics.median(res["prepare_s"]),
         "qps": busy_qps(timed), "latency_p50_ms": p50, "retained_heap_mb": res["heap_mb"]}
    extra = {}
    lats = [s["lat_ms"] for s in timed]
    if len(lats) >= 200:
        extra["latency_p95_ms"] = (percentile(lats, 0.95), "ms")
    if workload == "live":
        fresh = freshness(answers, res)
        if fresh:
            extra["freshness_p50_ms"] = (med(fresh), "ms")
        batches = [p for p in res["progress"] if p["t_ms"] >= 0 and p["rows"] > 0]
        busy = sum(p["duration_ms"].get("triggerExecution", 0) for p in batches)
        if busy:
            extra["ingest_eps"] = (1000.0 * sum(p["rows"] for p in batches) / busy, "1/s")
    return m, extra


def self_times(spans):
    """Span id → duration minus the part of it its children cover."""
    kids = defaultdict(list)
    for s in spans:
        if s["parent"] > 0:
            kids[s["parent"]].append((s["start_ms"], s["end_ms"]))
    out = {}
    for s in spans:
        covered, end = 0.0, s["start_ms"]
        for a, b in sorted(kids[s["id"]]):
            a = max(a, end)
            if b > a:
                covered += b - a
                end = b
        out[s["id"]] = (s["end_ms"] - s["start_ms"]) - covered
    return out


def trace_report(spans, samples):
    """Per span name: count, median inclusive and median self ms; and, per
    query, the measured latency less the self times of its layer spans (the
    root span's own time and the timer around it: span bookkeeping)."""
    selfs = self_times(spans)
    by_name = defaultdict(list)
    for s in spans:
        by_name[s["name"]].append(s)
    layers = {n: {"count": len(v), "median_ms": med([x["end_ms"] - x["start_ms"] for x in v]),
                  "median_self_ms": med([selfs[x["id"]] for x in v])}
              for n, v in sorted(by_name.items())}
    layer_self = defaultdict(float)
    for s in spans:
        if s["parent"] > 0:
            layer_self[s["qid"]] += selfs[s["id"]]
    gaps = [s["lat_ms"] - layer_self[s["qid"]] for s in samples
            if not s["error"] and s["qid"] in layer_self]
    return {"layers": layers, "queries": len(gaps), "bookkeeping_ms_median": med(gaps),
            "bookkeeping_ms_max": max(gaps, default=0.0)}


def per_layer(workload, res, samples, spans):
    selfs = self_times(spans)

    def durs(name, self_time=False):
        return [selfs[s["id"]] if self_time else s["end_ms"] - s["start_ms"]
                for s in spans if s["name"] == name]

    m = {
        "MaterializedState.read_ms": med(durs("MaterializedState.read")),
        "MaterializedState.ensure_s": med(res.get("ensure_s", [])),
        "Tables.events_ms": med(durs("Tables.events")),
        "JsonPathPredicate.compile_ms": med(durs("JsonPathPredicate.compile")),
        "InteractiveQueries.build_ms": med(durs("InteractiveQueries.build")),
        # the trackers tick in whole milliseconds, so a mean resolves more
        "catalyst.analysis_ms": mean(durs("catalyst.analysis")),
        "catalyst.optimization_ms": mean(durs("catalyst.optimization")),
        "catalyst.planning_ms": mean(durs("catalyst.planning")),
        "exec.run_ms": med(durs("exec.run", self_time=True)),
        "snapshot.read_ms": med(durs("snapshot.read")),
        "jvm.gc_ms_per_s": res["gc_ms"] / res["window_s"],
    }
    qids = {str(s["qid"]) for s in samples if not s["error"]}
    counts = [c for q, c in res.get("counts", {}).items() if q in qids]
    n = max(1, len(counts))
    total = {f: sum(c[f] for c in counts) for f in
             ("jobs", "tasks", "files_read", "scan_rows", "result_rows", "exchanges",
              "shuffle_bytes", "spill_bytes")}
    m.update({
        "exec.jobs_per_query": total["jobs"] / n,
        "exec.tasks_per_query": total["tasks"] / n,
        "exec.files_read_per_query": total["files_read"] / n,
        "exec.scan_rows_per_result_row": total["scan_rows"] / max(1, total["result_rows"]),
        "exec.exchanges_per_query": total["exchanges"] / n,
        "exec.shuffle_bytes_per_query": total["shuffle_bytes"] / n,
        "exec.spill_bytes_per_query": total["spill_bytes"] / n,
    })
    progress = res.get("progress", [])
    batches = [p for p in progress if p["t_ms"] >= 0 and p["rows"] > 0]
    for name, key in STREAM_PHASES:
        m[name] = med([p["duration_ms"].get(key, 0) for p in batches])
    m["state.rows_total"] = batches[-1]["state_rows"] if batches else 0
    m["state.commit_ms"] = med([p["state_commit_ms"] for p in batches])
    m["state.memory_bytes"] = batches[-1]["state_memory_bytes"] if batches else 0
    m["changelog.batches"] = sum(1 for p in progress if p["rows"] > 0)
    m["generator.lag_ms"] = max((lag for _c, _t, lag in res.get("appear", [])), default=0.0)
    m["ingest.backlog_max_files"] = res.get("backlog_max_files", 0)
    return m


# ---- checks ----

def check_answers(workload, res, answers, prefixes):
    """Marks each answer with the prefix it equals; returns the number wrong."""
    if workload == "recompute":
        expected = check.oracle(os.path.join(WORK, "data"), res["oracle_sql"])
        return sum(0 if check.recompute_ok(a, expected) else 1 for a in answers)
    wrong = 0
    for a in answers:
        lo, hi = (a["p_lo"], a["p_hi"]) if workload == "live" else (1, 1)
        a["prefix"] = check.matching_prefix(a, prefixes, N_SYMBOLS, lo, hi)
        if a["prefix"] is None:
            wrong += 1
            if wrong <= 3:
                print(f"perfbench: wrong answer {json.dumps(a)[:600]}", file=sys.stderr)
    return wrong


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=["lookup", "live", "recompute"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    classpath = build()
    clean()
    cpus = len(os.sched_getaffinity(0))
    settings, prefixes = prepare(args.workload, args.seed, min(4, cpus))
    settings.update({"workload": args.workload, "work": WORK, "seed": args.seed,
                     "seconds": args.seconds, "trace": args.trace, "cpus": cpus})
    res, answers, log_text = run_jvm(classpath, settings)

    samples = [dict(zip(("qid", "client", "kind", "start_ms", "lat_ms", "error"), s))
               for s in res["samples"]]
    errors = [s for s in samples if s["error"]]
    for s in errors[:3]:
        print(f"perfbench: query failed: {s['error']}", file=sys.stderr)
    wrong = check_answers(args.workload, res, answers, prefixes)
    attempted = len(samples) + (1 if args.workload == "live" else 0)

    e2e, extra = end_to_end(args.workload, res, samples, answers)
    shown = {**{n: (e2e[n], u) for n, u in END_TO_END}, **extra}
    if args.trace:
        with open(os.path.join(WORK, "trace.json")) as f:
            trace = json.load(f)
        spans = [dict(zip(trace["fields"], s)) for s in trace["spans"]]
        with open(os.path.join(WORK, "trace_report.json"), "w") as f:
            json.dump(trace_report(spans, samples), f, indent=1, sort_keys=True)
        # end-to-end figures of a traced run include the tracing overhead
        for name, (value, unit) in shown.items():
            print(f"{args.workload} traced.{name} {value:.4f} {unit}")
        values = per_layer(args.workload, res, samples, spans)
        metrics = {name: {"value": values[name], "unit": unit} for name, unit in PER_LAYER}
        shown = {name: (values[name], unit) for name, unit in PER_LAYER}
    else:
        metrics = {name: {"value": e2e[name], "unit": unit} for name, unit in END_TO_END}
    for name, (value, unit) in shown.items():
        print(f"{args.workload} {name} {value:.4f} {unit}")
    ignored = log_text.count("All paths were ignored")
    print(f"{args.workload} attempted {attempted} failed {len(errors) + wrong} "
          f"(wrong answers {wrong}; 'All paths were ignored' warnings {ignored})")
    print(json.dumps({"correct": wrong == 0, "attempted": attempted,
                      "failed": len(errors) + wrong, "metrics": metrics}))
    sys.exit(1 if wrong else 0)


if __name__ == "__main__":
    main()
