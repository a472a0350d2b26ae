#!/usr/bin/env python3
"""graft benchmark: one run of one workload.

    python3 graftbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run builds graft and the
benchmark's Scala program (`graftbench/build.py`); every run then generates its inputs from the
seed, starts one JVM that drives graft through its public functions for
`--seconds` of measured work, checks every result against DuckDB outside
the timed window, and prints one JSON line. With `--trace 0` the line
carries the end-to-end metrics; with `--trace 1` the per-layer metrics
of a traced run (spans from the benchmark program plus a Spark listener). The
workloads, metrics and generator parameters are described in
`graftbench/spec.json`.
"""
import argparse
import json
import math
import os
import re
import shutil
import signal
import statistics
import subprocess
import sys
import time
from collections import defaultdict

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import check  # noqa: E402
import gen  # noqa: E402

WORKLOADS = ("semantic_serving", "corpus_funnel", "stream_fold")
CORPUS_DOCS = 2500
FACT_SCALE = 0.1
TINY_DOCS = 200
JVM_TIMEOUT_S = 160
JVM_HEAP = "3g"
JVM_YOUNG = "768m"  # a fixed young generation keeps peak RSS from following G1 resizing
WORK_OPS = {"semantic_serving": ("op.query", "op.deploy"),
            "corpus_funnel": ("op.funnel",), "stream_fold": ("op.stream",)}
ISOLATED_OPS = ("exact", "near_dup_pairs", "clusters", "substring", "quality", "decontam")
JDK_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]
ERROR_LINE = re.compile(r"^\d\d/\d\d/\d\d \d\d:\d\d:\d\d ERROR ")


def prepare(workload, run_dir, seed, seconds):
    """Generate the run's inputs; returns the corpus directories made
    (one per possible iteration) with their sizes."""
    os.makedirs(f"{run_dir}/tmp", exist_ok=True)
    if workload == "semantic_serving":
        gen.facts(f"{run_dir}/facts", seed, scale=FACT_SCALE)
        gen.manifests(f"{run_dir}/manifests", seed)
        gen.facts(f"{run_dir}/tiny/facts", seed + 1, scale=0.002)
        gen.manifests(f"{run_dir}/tiny/manifests", seed + 1, metrics=24, models=6, versions=1)
        return []
    # a fresh directory per iteration: graft's corpus memos are keyed by
    # the directory fingerprint, so no iteration is served from another's
    n = min(6, max(3, math.ceil(seconds / 10) + 1))
    corpora = []
    for i in range(n):
        d = f"{run_dir}/corpora/c{i:02d}"
        p = gen.corpus(d, seed * 1000 + i, docs=CORPUS_DOCS)
        corpora.append({"dir": d, "docs": p["docs"],
                        "parquet_mb": os.path.getsize(f"{d}/documents.parquet") / 1e6})
    gen.corpus(f"{run_dir}/tiny/corpus", seed * 1000 + 999, docs=TINY_DOCS)
    return corpora


def launch(workload, run_dir, seed, seconds, trace):
    cpus = min(4, os.cpu_count() or 1)
    cmd = (["java", f"-Xmx{JVM_HEAP}", f"-Xmn{JVM_YOUNG}", "-Xss16m", "-XX:-UsePerfData"] +
           [f"--add-opens=java.base/{m}=ALL-UNNAMED" for m in JDK_OPENS] +
           [f"-Djava.io.tmpdir={run_dir}/tmp", "-Duser.timezone=UTC",
            f"-Dlog4j2.configurationFile={HERE}/log4j2.properties",
            "-cp", build.classpath(), "graftbench.GraftBench",
            "--workload", workload, "--dir", run_dir, "--seconds", str(seconds),
            "--trace", str(trace), "--seed", str(seed), "--cpus", str(cpus)])
    with open(f"{run_dir}/jvm.out", "w") as out, open(f"{run_dir}/jvm.err", "w") as err:
        proc = subprocess.Popen(cmd, stdout=out, stderr=err, start_new_session=True)
        try:
            code = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            raise RuntimeError(f"benchmark JVM exceeded {JVM_TIMEOUT_S} s")
        finally:  # never leave the JVM behind, also when this process is stopped
            if proc.poll() is None:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
    if code != 0:
        tail = open(f"{run_dir}/jvm.err").read()[-3000:]
        raise RuntimeError(f"benchmark JVM exited {code}:\n{tail}")
    with open(f"{run_dir}/out/run.json") as f:
        return json.load(f)


def p90(xs):
    """90th percentile by nearest rank (the max below 10 samples)."""
    s = sorted(xs)
    return s[max(0, math.ceil(0.9 * len(s)) - 1)] if s else 0.0


def median(xs):
    return statistics.median(xs) if xs else 0.0


def mean(xs):
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


# ------------------------------------------------------------ checking

def check_serving(run_dir, summary):
    con = check.connect(f"{run_dir}/tmp")
    for t in ("orders", "lineitem", "events"):
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{run_dir}/facts/{t}.parquet'")
    with open(f"{run_dir}/manifests/catalog.json") as f:
        expected = json.load(f)["versions"]
    defs = {}
    bad, reasons = set(), []
    with open(f"{run_dir}/out/results.jsonl") as f:
        results = [json.loads(line) for line in f if line.strip()]
    for rec in results:
        v = rec["version"]
        if v not in defs:
            defs[v] = check.load_manifest_defs(f"{run_dir}/manifests/v{v}.json")
        try:
            why = check.check_request(con, rec, defs[v])
        except Exception as e:  # noqa: BLE001 - a failed oracle is a failed check
            why = f"oracle error: {e}"
        if why:
            bad.add(rec["key"])
            reasons.append(f"{rec['spec']['kind']} {rec['spec']['metrics'][0]['name']}: {why}")
    failed = 0
    for op in summary["ops"]:
        if op["kind"] == "query":
            ok = op["ok"] and op["key"] not in bad
            if not op["ok"]:
                reasons.append(f"query failed: {op.get('error')}")
        else:
            why = check.check_deploy(con, op, expected[op["version"]])
            ok = why is None
            if why:
                reasons.append(f"deploy v{op['version']}: {why}")
        op["correct"] = ok
        failed += 0 if ok else 1
    return failed, reasons, len(results)


def check_corpus(run_dir, summary, batch):
    con = check.connect(f"{run_dir}/tmp")
    with open(f"{run_dir}/out/oracle.sql") as f:
        oracle_sql = json.load(f)
    failed, reasons = 0, []
    want_by_dir = {}

    def want(d):
        if d not in want_by_dir:
            want_by_dir[d] = check.funnel_oracle(con, oracle_sql, d)
        return want_by_dir[d]

    for it in summary["iterations"]:
        why = it.get("error") if not it["ok"] else check.check_rows(it["rows"], want(it["dir"]))
        if why is None and batch and it["memo_builds"] < 1:
            why = "no memo build: the iteration was served from another corpus's artifacts"
        it["correct"] = why is None
        if why:
            failed += 1
            reasons.append(f"{os.path.basename(it['dir'])}: {why}")
    if "stream" in summary:  # the traced funnel run's one streaming fold
        why = check.check_rows(summary["stream"]["rows"], want(summary["stream"]["dir"]))
        if why:
            failed += 1
            reasons.append(f"stream fold != batch funnel: {why}")
    return failed, reasons


# ------------------------------------------------------------- metrics

def end_to_end(workload, run, corpora):
    s = run["summary"]
    setup = run["setup"]
    m = {"setup_s": setup["jvm_start_s"] + setup["session_s"] + setup["warm_s"],
         "peak_rss_mb": run["peak_rss_mb"]}
    if workload == "semantic_serving":
        q = [op["ms"] for op in s["ops"] if op["kind"] == "query" and op["correct"]]
        m.update(op_p50_ms=median(q), op_p90_ms=p90(q), items_per_s=len(q) / s["window_s"])
    else:
        docs = {c["dir"]: c["docs"] for c in corpora}
        its = [it for it in s["iterations"] if it["correct"]]
        m.update(op_p50_ms=median([it["s"] * 1e3 for it in its]),
                 op_p90_ms=p90([it["s"] * 1e3 for it in its]),
                 items_per_s=median([docs[it["dir"]] / it["s"] for it in its]))
    return m


def load_spans(path):
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


def self_times(spans):
    """Per span name: total self time (ms), i.e. duration minus the union
    of its children's intervals."""
    kids = defaultdict(list)
    for s in spans:
        kids[s["parent"]].append(s)
    out = defaultdict(float)
    for s in spans:
        iv = sorted((max(c["start_ns"], s["start_ns"]), min(c["end_ns"], s["end_ns"]))
                    for c in kids[s["id"]])
        covered, a0, b0 = 0, None, None
        for a, b in iv:
            if b <= a:
                continue
            if b0 is None or a > b0:
                covered += (b0 - a0) if b0 is not None else 0
                a0, b0 = a, b
            else:
                b0 = max(b0, b)
        covered += (b0 - a0) if b0 is not None else 0
        out[s["name"]] += (s["end_ns"] - s["start_ns"] - covered) / 1e6
    return dict(out)


SPARK_COUNTERS = ("spark.jobs", "spark.stages", "spark.tasks", "spark.executor_cpu_s",
                  "spark.executor_run_s", "spark.gc_s", "spark.shuffle_write_mb",
                  "spark.shuffle_read_mb", "spark.spill_mb", "spark.scheduler_delay_s",
                  "spark.stages_skipped", "spark.tasks_failed")


def per_layer(workload, run, spans, corpora, stderr_text):
    s = run["summary"]
    by_op = defaultdict(list)
    for sp in spans:
        by_op[sp["op"]].append(sp)

    def dur(sp):
        return (sp["end_ns"] - sp["start_ns"]) / 1e6

    def sub(root, key):
        return sum(x["counters"].get(key, 0.0) for x in by_op[root["id"]])

    def named(name):
        return [sp for sp in spans if sp["name"] == name]

    roots = [sp for sp in spans if sp["parent"] == 0]
    work = [r for r in roots if r["name"] in WORK_OPS[workload]]
    m = {k: mean(sub(r, k) for r in work) for k in SPARK_COUNTERS}
    listener = s.get("listener", {})
    if workload == "semantic_serving":  # two clients overlap: charge the window
        exec_cpu = listener.get("totals", {}).get("spark.executor_cpu_s", 0.0)
        m["driver.cpu_s"] = (s["traced_cpu_s"] - exec_cpu) / max(1, len(work))
        m["io.write_mb"] = s["traced_io_write_mb"] / max(1, len(work))
    else:
        m["driver.cpu_s"] = mean(r["counters"].get("process_cpu_s", 0.0) - sub(r, "spark.executor_cpu_s")
                                 for r in work)
        m["io.write_mb"] = mean(r["counters"].get("io.write_mb", 0.0) for r in work)

    ops = s.get("ops", [])
    deploys = [op for op in ops if op["kind"] == "deploy" and op["traced"] and op["ok"]]
    m["graft.model.parse_ms"] = mean(dur(x) for x in named("graft.model.parse"))
    m["graft.meta.records_ms"] = mean(dur(x) for x in named("graft.meta.records"))
    m["graft.meta.deploy_p50_ms"] = median([op["ms"] for op in deploys])
    m["graft.sources.sink_ms"] = mean(dur(x) for x in named("graft.sources.sink"))
    m["graft.sources.sink_bytes_per_record"] = (
        sum(op["sink_bytes"] for op in deploys) / max(1, sum(op["records"] for op in deploys)))
    m["graft.sources.files_written"] = mean(op["files"] for op in deploys)
    queries = [r for r in roots if r["name"] == "op.query"]
    m["graft.metrics.compile_ms"] = mean(dur(x) for x in named("graft.metrics.compile"))
    m["graft.metrics.exec_ms"] = mean(dur(x) for x in named("graft.metrics.exec"))
    m["graft.metrics.jobs_per_query"] = mean(sub(r, "spark.jobs") for r in queries)
    m["graft.plans.plan_ms"] = mean(dur(x) for x in named("graft.plans.plan"))

    its = [it for it in s.get("iterations", []) if it["traced"]]
    m["graft.queries.funnel_s"] = mean(dur(x) / 1e3 for x in named("graft.queries.funnel")
                                       if x["op"] in {r["id"] for r in work})
    m["graft.ops.memo_builds"] = mean(it["memo_builds"] for it in its)
    m["graft.ops.memo_hits"] = mean(it["memo_hits"] for it in its)
    for name in ISOLATED_OPS:
        iso = [r for r in roots if r["name"] == f"op.isolated.{name}"]
        m[f"graft.ops.{name}_s"] = mean(dur(x) / 1e3 for x in named(f"graft.ops.{name}"))
        m[f"graft.ops.{name}.jobs"] = mean(sub(r, "spark.jobs") for r in iso)
        m[f"graft.ops.{name}.executor_cpu_s"] = mean(sub(r, "spark.executor_cpu_s") for r in iso)
        m[f"graft.ops.{name}.shuffle_write_mb"] = mean(sub(r, "spark.shuffle_write_mb") for r in iso)
    m["graft.ops.near_dup_pairs"] = mean(it.get("near_dup_pairs", 0) for it in its)

    mb = {c["dir"]: c["parquet_mb"] for c in corpora}
    folds = ([it for it in its if "state_bytes" in it] +
             ([dict(s["stream"])] if "stream" in s else []))
    m["graft.streaming.ingest_s"] = mean(dur(x) / 1e3 for x in named("graft.streaming.ingest"))
    m["graft.streaming.state_mb"] = mean(f["state_bytes"] / 1e6 for f in folds)
    m["graft.streaming.write_amp"] = mean(f["io_write_mb"] / mb[f["dir"]] for f in folds)

    jobs = listener.get("jobs", 0)
    m["spark.unattributed_job_frac"] = listener.get("unattributed", 0) / jobs if jobs else 0.0
    lines = stderr_text.splitlines()
    m["spark.error_log_lines"] = sum(1 for ln in lines if ERROR_LINE.match(ln))
    m["spark.accumulator_errors"] = sum(1 for ln in lines if "non-existent accumulator" in ln)

    m["trace.overhead_pct"] = trace_overhead_pct(workload, s)
    extra = {"self_ms": self_times(spans),
             "fallback_frames": listener.get("fallback_frames", {})}
    return m, extra


def trace_overhead_pct(workload, s):
    """Traced e2e minus untraced e2e, as % of op latency, both from this
    run: semantic_serving's last third of the window against its second
    (the same requests, which both thirds repeat from the first), on the
    requests both made; corpus_funnel's traced last iteration against its
    second."""
    if workload == "semantic_serving":
        qs = [op for op in s["ops"] if op["kind"] == "query" and op["correct"] and op["phase"] > 0]
        both = ({op["i"] for op in qs if op["phase"] == 2} & {op["i"] for op in qs if op["phase"] == 1})
        lat = [(op["ms"], op["phase"] == 2) for op in qs if op["i"] in both]
    else:
        lat = [(it["s"] * 1e3, it["traced"]) for it in s["iterations"][1:] if it["correct"]]
    traced = [x for x, t in lat if t]
    ref = [x for x, t in lat if not t]
    return (median(traced) / median(ref) - 1) * 100 if traced and ref else 0.0


# ---------------------------------------------------------------- main

def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[1].strip())
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))  # run the cleanup below
    try:
        build.build()
    except (Exception, SystemExit) as e:  # noqa: BLE001 - any build failure ends the run
        print(f"graftbench: build failed: {e}", file=sys.stderr)
        sys.exit(2)

    run_dir = os.path.abspath(f"{build.OUT}/runs/{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    t_start = time.time()
    try:
        corpora = prepare(a.workload, run_dir, a.seed, a.seconds)
        run = launch(a.workload, run_dir, a.seed, a.seconds, a.trace)
        s = run["summary"]
        if a.workload == "semantic_serving":
            failed, reasons, distinct = check_serving(run_dir, s)
            attempted = len(s["ops"])
        else:
            failed, reasons = check_corpus(run_dir, s, a.workload == "corpus_funnel")
            distinct = len(s["iterations"])
            attempted = distinct + (1 if "stream" in s else 0)
        with open(f"{run_dir}/jvm.err") as f:
            stderr_text = f.read()
        e2e = end_to_end(a.workload, run, corpora)
        detail = {"workload": a.workload, "seed": a.seed, "trace": a.trace,
                  "attempted": attempted, "failed": failed, "distinct_checked": distinct,
                  "failed_ops_frac": failed / max(1, attempted), "failures": reasons[:5],
                  "setup": run["setup"], "wall_s": time.time() - t_start, "e2e": e2e}
        if a.workload == "semantic_serving":
            ops = s["ops"]
            detail["queries"] = sum(1 for op in ops if op["kind"] == "query")
            detail["deploys"] = sum(1 for op in ops if op["kind"] == "deploy")
            detail["deploy_p50_ms"] = median([op["ms"] for op in ops if op["kind"] == "deploy"])
            detail["query_kinds"] = {k: sum(1 for op in ops if op.get("qtype") == k)
                                     for k in sorted({op.get("qtype") for op in ops if op.get("qtype")})}
        else:
            detail["iterations"] = [{"s": it["s"], "memo_builds": it["memo_builds"],
                                     "memo_hits": it["memo_hits"], "traced": it["traced"]}
                                    for it in s["iterations"]]
        if a.trace:
            spans = load_spans(f"{run_dir}/out/spans.jsonl")
            metrics, extra = per_layer(a.workload, run, spans, corpora, stderr_text)
            detail.update(extra)
            traces = f"{build.OUT}/traces"
            os.makedirs(traces, exist_ok=True)
            shutil.copyfile(f"{run_dir}/out/spans.jsonl", f"{traces}/{a.workload}-seed{a.seed}.jsonl")
        else:
            metrics = e2e
        units = declared_units("per_layer" if a.trace else "end_to_end")
        if set(metrics) != set(units):
            raise RuntimeError(f"metrics {sorted(set(metrics) ^ set(units))} differ from BENCHMARK.json")
        result = {"correct": failed == 0, "attempted": attempted, "failed": failed,
                  "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()}}
    except Exception as e:  # noqa: BLE001 - report and exit non-zero, no result line
        print(f"graftbench: run failed: {e}", file=sys.stderr)
        sys.exit(1)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(detail))
    print(json.dumps(result))


def declared_units(kind):
    """Name -> unit of the metrics BENCHMARK.json declares of this kind."""
    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[kind]}


if __name__ == "__main__":
    main()
