#!/usr/bin/env python3
"""graft's benchmark: seeded, oracle-checked query mixes in a fresh JVM.

Usage:
  python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

One run builds graft from source if needed (perfbench/build.py), then runs
one JVM (perfbench/src/GraftBench.scala) on the project's test tables at
scale factor 0.01 (the directory TESTDATA.md lists): set-up, one cold pass
over the workload's query mix, then warm passes for S seconds. The seed
sets the query order of every pass; each pass reads its own copy of the
tables.
Every result of the last pass is compared with the DuckDB oracle by
tools/check.py. Human-readable lines go to stdout first; the last line is
one JSON object {"correct", "attempted", "failed", "metrics"} holding the
end-to-end metrics (--trace 0) or the per-layer metrics (--trace 1) named
in BENCHMARK.json. The exit code is 0 only if every execution succeeded,
matched the oracle and kept its result and job count in every pass.

Test hooks: --mix q1,q2 replaces the workload's queries, --plant-throw
adds a query that throws.
"""
import argparse
import hashlib
import json
import math
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
sys.path.insert(0, HERE)

import build  # noqa: E402

MIN_WARM = 1  # warm passes every run makes, whatever --seconds says
MIN_WARM_TRACED = 2  # a traced run also needs an untraced warm pass
TAIL_BEYOND = 10  # a tail percentile wants this many samples beyond it
TAIL_FLOOR = 75  # ... but is never lower than this
JVM_TIMEOUT_S = 150
ORACLE_TIMEOUT_S = 120
MB = 1 << 20
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]
OPERATOR_FILES = ["Relational", "Graph", "ML", "Similarity", "Dedup", "TextAnalysis", "StreamingOps"]


class BenchError(Exception):
    pass


def median(xs):
    return percentile(xs, 50)


def percentile(xs, p):
    """Linearly interpolated percentile (numpy's default method)."""
    s = sorted(xs)
    if not s:
        return 0.0
    h = p / 100 * (len(s) - 1)
    lo = math.floor(h)
    return s[lo] + (h - lo) * (s[min(lo + 1, len(s) - 1)] - s[lo])


def tail(xs, n_min):
    """(value, percentile): the highest whole percentile that leaves at
    least TAIL_BEYOND of n_min samples beyond it, but at least TAIL_FLOOR."""
    p = max(TAIL_FLOOR, math.floor(100 * (n_min - TAIL_BEYOND) / max(1, n_min)))
    return percentile(xs, p), p


def files_digest(d):
    h = hashlib.sha256()
    for name in sorted(os.listdir(d)):
        with open(os.path.join(d, name), "rb") as f:
            h.update(name.encode() + f.read())
    return h.hexdigest()


def inputs(sf):
    """The project's read-only test tables at scale factor sf: the
    directory TESTDATA.md lists for it. The JVM copies them for each pass."""
    with open(os.path.join(ROOT, "TESTDATA.md")) as f:
        m = re.search(rf"^\|\s*{re.escape(str(sf))}\s*\|\s*`([^`]+)`", f.read(), re.M)
    if not m or not os.path.isdir(m.group(1)):
        raise BenchError(f"no test tables for sf {sf}: TESTDATA.md lists {m and m.group(1)!r}")
    return m.group(1).rstrip("/")


def run_jvm(classpath, work, args, traced):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cpus = str(len(os.sched_getaffinity(0)))
    opts = [o for p in ADD_OPENS for o in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    # no hsperfdata file: the run writes nothing outside the checkout
    opts += ["-XX:-UsePerfData", "-Xmx4g", "-XX:G1HeapRegionSize=32m", "-XX:ReservedCodeCacheSize=512m",
             "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
             f"-Djava.io.tmpdir={tmp}", f"-Dspark.hadoop.hadoop.tmp.dir={tmp}"]
    if traced:  # long call sites: attribution reads every graft frame
        opts.append("-Dspark.callstack.depth=200")
    env = dict(os.environ, SPARK_GRAFT_CPUS=cpus, SPARK_LOCAL_DIRS=os.path.join(work, "local"),
               TMPDIR=tmp)
    log = os.path.join(work, "jvm.log")
    with open(log, "w") as out:
        try:
            code = subprocess.run(["java"] + opts + ["-cp", os.pathsep.join(classpath),
                                                     "perfbench.GraftBench"] + args,
                                  stdout=out, stderr=subprocess.STDOUT, env=env,
                                  timeout=JVM_TIMEOUT_S).returncode
        except subprocess.TimeoutExpired:
            code = f"killed after {JVM_TIMEOUT_S} s"
    if code != 0:
        with open(log) as f:
            raise BenchError(f"JVM exited {code}:\n" + "".join(f.readlines()[-30:]))


def oracle_check(verify_dir, data_dir, digests):
    """tools/check.py on the last pass's results ({query: result digest});
    verdicts are cached by input content, query, oracle SQL and digest."""
    with open(os.path.join(verify_dir, "oracle_sql.json")) as f:
        oracles = json.load(f)
    names = sorted(digests)
    missing = [n for n in names if n not in oracles]
    cache_file = os.path.join(BUILD, "oracle-verdicts.json")
    cache = {}
    if os.path.exists(cache_file):
        with open(cache_file) as f:
            cache = json.load(f)
    data_hash = files_digest(data_dir)

    def key(n):
        return hashlib.sha256("|".join([data_hash, n, oracles[n], digests[n]]).encode()).hexdigest()

    todo = [n for n in names if n in oracles and cache.get(key(n)) != "ok"]
    failures = {n: "no oracle declared" for n in missing}
    if todo:
        env = dict(os.environ, TMPDIR=os.path.join(os.path.dirname(verify_dir), "tmp"))
        try:
            r = subprocess.run([sys.executable, os.path.join(ROOT, "tools", "check.py"), verify_dir,
                                data_dir] + todo, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                               text=True, timeout=ORACLE_TIMEOUT_S, env=env)
        except subprocess.TimeoutExpired:
            return dict(failures, **{n: "oracle timed out" for n in todo})
        seen = set()
        for line in r.stdout.splitlines():
            m = re.match(r"(ok|FAIL)\s+(\S+?):?\s(.*)", line)
            if m and m.group(2) in todo:
                seen.add(m.group(2))
                if m.group(1) == "ok":
                    cache[key(m.group(2))] = "ok"
                else:
                    failures[m.group(2)] = m.group(3)
        for n in set(todo) - seen:
            failures[n] = "no verdict from tools/check.py: " + r.stdout[-300:]
        tmp = cache_file + f".tmp{os.getpid()}"
        with open(tmp, "w") as f:
            json.dump(cache, f)
        os.replace(tmp, cache_file)
    return failures


def clock_anchor_ms(rec):
    """Epoch milliseconds at nanoTime 0 of the run's JVM."""
    return rec["clock"]["epoch_ms"] - rec["clock"]["nano"] / 1e6


def union_ms(spans, lo, hi):
    total, end = 0, lo
    for s, e in sorted((max(lo, s), min(hi, e)) for s, e in spans if e > lo and s < hi):
        if e > end:
            total += e - max(s, end)
            end = e
    return total


def attribute(jobs, modules):
    """Per job: whether its call site is a pin, and its operator file: the
    first graft.operators frame of its own or its SQL execution's call
    site, else the module declaring the running query. A job counts as
    attributed only if a graft frame (operators, plans or MergeTable) or a
    stream query id places it; the declaring-module fallback does not."""
    for j in jobs:
        f = j["frames"]
        j["pin"] = bool(re.match(r"(localCheckpoint|checkpoint) at ", j["call_site"]))
        j["attributed"] = bool(f["ops_file"] or f["plans"] or f["merge_table"] or j["stream_id"])
        j["file"] = f["ops_file"] or modules.get(j["query"], "")


def check_run(rec, oracle_failures, traced):
    """Failed executions, by (pass, query), with a reason each."""
    execs = rec["execs"]
    ref = {}
    for e in execs:
        if e["pass"] == 0:
            ref[e["query"]] = e
    failed = {}
    for e in execs:
        k = (e["pass"], e["query"])
        r = ref[e["query"]]
        if e["error"]:
            failed[k] = f"pass {e['pass']} {e['query']} threw {e['error']}"
        elif r["error"] == "" and e["digest"] != r["digest"]:
            failed[k] = f"pass {e['pass']} {e['query']} result differs from pass 0"
        elif e["jobs"] != r["jobs"]:
            orders = {p["index"]: p["order"] for p in rec["passes"]}

            def before(p, q):
                return orders[p][:orders[p].index(q)]
            failed[k] = (f"shared state: {e['query']} ran {r['jobs']} jobs in pass 0 after "
                         f"{before(0, e['query'])} but {e['jobs']} in pass {e['pass']} after "
                         f"{before(e['pass'], e['query'])}")
    last = max(p["index"] for p in rec["passes"])
    for q, why in oracle_failures.items():
        failed.setdefault((last, q), f"oracle: {q}: {why}")
    for p in rec["probes"]:
        if p["error"]:
            failed[(-1, p["name"])] = f"kernel probe {p['name']}: {p['error']}"
    if traced:
        for p in rec["passes"]:
            wall = p["end_ns"] - p["start_ns"]
            spans = sum(e["end_ns"] - e["start_ns"] for e in execs if e["pass"] == p["index"])
            if abs(wall - spans) > 0.02 * wall:
                failed[(p["index"], "")] = f"pass {p['index']}: query spans cover {spans / wall:.3f} of it"
    return failed


def end_to_end(rec):
    passes = rec["passes"]
    warm = [(p["end_ns"] - p["start_ns"]) / 1e9 for p in passes[1:]]
    return {
        "setup_s": (rec["setup"]["setup_s"], 1, "JVM start to tables open"),
        "cold_pass_s": ((passes[0]["end_ns"] - passes[0]["start_ns"]) / 1e9, 1, ""),
        "pass_s": (median(warm), len(warm), ""),
        "heap_peak_mb": (max(p["heap_peak_bytes"] for p in passes[:MIN_WARM + 1]) / MB,
                         sum(p["gc_events"] for p in passes[:MIN_WARM + 1]), "after GC"),
    }


def latencies(rec, min_warm):
    """Per-query and per-micro-batch latency over the warm passes. One
    query or batch is a short window that a burst of load on a shared host
    moves by tens of percent, so these are reported but not gated."""
    warm = {p["index"] for p in rec["passes"][1:]}
    lat = [(e["end_ns"] - e["start_ns"]) / 1e9 for e in rec["execs"] if e["pass"] in warm]
    q_tail, q_pct = tail(lat, min_warm * len(rec["mix"]))
    batches = [b for b in rec["batches"] if b["pass"] in warm]
    trig = [b["duration_ms"].get("triggerExecution", 0) for b in batches]
    per_pass = len([b for b in batches if b["pass"] == 1])
    b_tail, b_pct = tail(trig, min_warm * per_pass)
    return {
        "query_p50_s": (median(lat), len(lat), ""),
        "query_tail_s": (q_tail, len(lat), f"p{q_pct}"),
        "stream_rows_per_s": (sum(b["input_rows"] for b in batches) / max(1e-9, sum(trig) / 1e3),
                              len(batches), ""),
        "batch_p50_ms": (median(trig), len(trig), ""),
        "batch_tail_ms": (b_tail, len(trig), f"p{b_pct}"),
    }


def per_layer(rec):
    modules = rec["modules"]
    jobs, stages, batches, writes = rec["jobs"], rec["stages"], rec["batches"], rec["writes"]
    attribute(jobs, modules)
    passes = {p["index"]: p for p in rec["passes"]}
    traced = [k for k, p in passes.items() if p["traced"] and k > 0]
    untraced = [k for k, p in passes.items() if not p["traced"] and k > 0]
    stream_execs = {(j["pass"], j["exec_id"]) for j in jobs if j["stream_id"] or j["frames"]["merge_table"]}
    anchor = clock_anchor_ms(rec)

    def one(k):
        p = passes[k]
        J = [j for j in jobs if j["pass"] == k]
        S = [s for s in stages if s["pass"] == k]
        B = [b for b in batches if b["pass"] == k]
        W = [w for w in writes if w["pass"] == k and (k, w["exec_id"]) in stream_execs]
        lo, hi = anchor + p["start_ns"] / 1e6, anchor + p["end_ns"] / 1e6
        busy = union_ms([(j["start_ms"], j["end_ms"]) for j in J], lo, hi)

        def dur(js):
            return sum(j["end_ms"] - j["start_ms"] for j in js) / 1e3

        def d(b, *keys):
            return sum(b["duration_ms"].get(x, 0) for x in keys)
        m = {
            "Tables.input_mb": sum(s["input_bytes"] for s in S) / MB,
            "Tables.input_rows": sum(s["input_records"] for s in S),
            "Tables.scan_task_s": sum(s["run_ms"] for s in S if s["input_bytes"] > 0) / 1e3,
            "spark.jobs": len(J),
            "spark.stages": len(S),
            "spark.tasks": sum(s["tasks"] for s in S),
            "spark.driver_only_s": (hi - lo - busy) / 1e3,
            "spark.job_busy_s": busy / 1e3,
            "spark.task_run_s": sum(s["run_ms"] for s in S) / 1e3,
            "spark.task_cpu_s": sum(s["cpu_ns"] for s in S) / 1e9,
            "spark.task_wait_s": sum(s["sched_delay_ms"] + s["deser_ms"] for s in S) / 1e3,
            "spark.gc_s": p["gc_ms"] / 1e3,
            "spark.shuffle_write_mb": sum(s["shuffle_write_bytes"] for s in S) / MB,
            "spark.shuffle_read_mb": sum(s["shuffle_read_bytes"] for s in S) / MB,
            "spark.spill_mb": sum(s["spill_bytes"] for s in S) / MB,
            "spark.task_failures": sum(s["failed_tasks"] for s in S),
            "spark.stage_retries": sum(1 for s in S if s["attempt"] > 0),
            "spark.skipped_stage_frac": sum(j["skipped_stages"] for j in J) / max(1, sum(len(j["stage_ids"]) for j in J)),
            "plans.jobs": sum(1 for j in J if j["frames"]["plans"]),
            "plans.job_s": dur([j for j in J if j["frames"]["plans"]]),
            "plans.pin_jobs": sum(1 for j in J if j["pin"]),
            "plans.pin_s": dur([j for j in J if j["pin"]]),
            "plans.pin_block_mb": rec["block_peak_bytes"].get(str(k), 0) / MB,
            "streaming.batches": len(B),
            "streaming.input_rows": sum(b["input_rows"] for b in B),
            "streaming.source_ms": sum(d(b, "latestOffset", "getBatch") for b in B),
            "streaming.planning_ms": sum(d(b, "queryPlanning") for b in B),
            "streaming.add_batch_ms": sum(d(b, "addBatch") for b in B),
            "streaming.commit_ms": sum(d(b, "walCommit", "commitOffsets") for b in B),
            "streaming.state_rows": max([b["state_rows"] for b in B] or [0]),
            "streaming.state_mb": max([b["state_bytes"] for b in B] or [0]) / MB,
            "streaming.bytes_written_mb": sum(w["bytes"] for w in W) / MB,
            "streaming.files_written": sum(w["files"] for w in W),
            "streaming.MergeTable.job_s": dur([j for j in J if j["frames"]["merge_table"]]),
            "trace.unattributed_job_frac": sum(1 for j in J if not j["attributed"]) / max(1, len(J)),
        }
        for f in OPERATOR_FILES:
            mine = [j for j in J if j["file"] == f]
            m[f"operators.{f}.jobs"] = len(mine)
            m[f"operators.{f}.job_s"] = dur(mine)
        return m

    per_pass = [one(k) for k in traced]
    out = {name: (median([m[name] for m in per_pass]), len(per_pass)) for name in per_pass[0]}

    def wall(ks):
        return median([(passes[k]["end_ns"] - passes[k]["start_ns"]) / 1e9 for k in ks])
    out["trace.overhead_frac"] = (wall(traced) / wall(untraced) - 1, len(traced) + len(untraced))
    out["GraftSession.get_s"] = (rec["setup"]["get_s"], 1)
    out["spark.codegen_compile_s"] = (passes[0]["codegen_compile_ms"] / 1e3, 1)
    for p in rec["probes"]:
        out[p["name"]] = (p["value"], len(p["reps_ns"]))
    out.update(latencies(rec, MIN_WARM_TRACED))
    return out


def write_spans(rec, path):
    """The run's spans, one per pass, query, job, stage, stream batch and
    kernel probe, each with its start, end (epoch ms) and parent span."""
    anchor = clock_anchor_ms(rec)

    def ms(ns):
        return anchor + ns / 1e6
    spans = [{"id": "run", "parent": None, "kind": "run", "name": ",".join(rec["mix"])}]
    for p in rec["passes"]:
        spans.append({"id": f"p{p['index']}", "parent": "run", "kind": "pass", "name": f"pass {p['index']}",
                      "start": ms(p["start_ns"]), "end": ms(p["end_ns"]), "traced": p["traced"]})
    for e in rec["execs"]:
        spans.append({"id": f"p{e['pass']}/{e['query']}", "parent": f"p{e['pass']}", "kind": "query",
                      "name": e["query"], "start": ms(e["start_ns"]), "end": ms(e["end_ns"]),
                      "jobs": e["jobs"], "error": e["error"]})
    for j in rec["jobs"]:
        parent = f"p{j['pass']}/{j['query']}" if j["pass"] >= 0 else "run"
        spans.append(dict(j, id=f"j{j['id']}", parent=parent, kind="job", name=j["call_site"],
                          start=j["start_ms"], end=j["end_ms"]))
    for s in rec["stages"]:
        spans.append(dict(s, id=f"s{s['id']}.{s['attempt']}", parent=f"j{s['job']}", kind="stage",
                          name=f"stage {s['id']}", start=s["start_ms"], end=s["end_ms"]))
    for b in rec["batches"]:
        spans.append(dict(b, id=f"b{b['stream_id']}.{b['batch_id']}", parent=f"p{b['pass']}", kind="batch",
                          name=f"batch {b['batch_id']}", start=b["start_ms"],
                          end=b["start_ms"] + b["duration_ms"].get("triggerExecution", 0)))
    for p in rec["probes"]:
        spans.append(dict(p, id=p["name"], parent="run", kind="probe", start=p["start_ms"],
                          end=p["end_ms"]))
    with open(path, "w") as f:
        json.dump(spans, f)


def main():
    ap = argparse.ArgumentParser(description="graft benchmark run")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--mix", help="comma-separated queries replacing the workload's mix")
    ap.add_argument("--plant-throw", action="store_true")
    a = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    with open(os.path.join(HERE, "workloads.json")) as f:
        workloads = json.load(f)
    if a.workload not in workloads["workloads"]:
        raise BenchError(f"unknown workload {a.workload!r}")
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")) or \
            not os.path.isfile(os.path.join(ROOT, "tools", "check.py")):
        raise BenchError("graft's sources (src/main/scala, tools/check.py) are not in this checkout")
    mix = a.mix.split(",") if a.mix else workloads["workloads"][a.workload]["queries"]

    classpath = build.build()
    data = inputs(workloads["sf"])
    work = os.path.join(BUILD, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        record = os.path.join(work, "record.json")
        run_jvm(classpath, work, ["--data", data, "--work", work,
                                  "--mix", ",".join(mix), "--seed", str(a.seed),
                                  "--seconds", str(a.seconds), "--trace", str(a.trace),
                                  "--min-warm", str(MIN_WARM_TRACED if a.trace else MIN_WARM),
                                  "--plant-throw", "1" if a.plant_throw else "0",
                                  "--out", record], a.trace == 1)
        with open(record) as f:
            rec = json.load(f)
        last = max(p["index"] for p in rec["passes"])
        oracle = oracle_check(os.path.join(work, "verify"), data, {
            e["query"]: e["digest"] for e in rec["execs"] if e["pass"] == last and not e["error"]})
        failed = check_run(rec, oracle, a.trace == 1)
        if a.trace == 1:
            spans = os.path.join(BUILD, f"spans-{a.workload}-seed{a.seed}.json")
            write_spans(rec, spans)
            print(f"spans: {os.path.relpath(spans, ROOT)}")
    finally:
        shutil.rmtree(work, ignore_errors=True)

    attempted = len(rec["execs"])
    n_failed = min(attempted, len(failed))
    for why in failed.values():
        print("FAILED " + why)
    print(f"failed_frac = {n_failed / attempted:.6g} frac (samples={attempted})")
    names = spec["per_layer"] if a.trace == 1 else spec["end_to_end"]
    values = per_layer(rec) if a.trace == 1 else end_to_end(rec)
    metrics = {}
    for m in names:
        v = values[m["name"]]
        extra = f", {v[2]}" if len(v) > 2 and v[2] else ""
        print(f"{m['name']} = {v[0]:.6g} {m['unit']} (samples={v[1]}{extra})")
        metrics[m["name"]] = {"value": v[0], "unit": m["unit"]}
    correct = not failed
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": n_failed, "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    try:
        sys.exit(main())
    except (BenchError, build.BuildError, OSError, ValueError, KeyError) as e:
        print(f"perfbench: {e}", file=sys.stderr)
        sys.exit(2)
