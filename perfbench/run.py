#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the program with the harness (perfbench/build.py), runs the JVM
harness on the repository's test tables kept in perfbench/data (the seed
chooses where the streaming workloads start replaying them), checks the
outputs, and prints one JSON line as the last line of stdout:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the metrics
are the end-to-end metrics of BENCHMARK.json, with --trace 1 the per-layer
ones. A fuller artifact (host state, sample counts, spans, per-query
numbers) lands in .bench_out/. See perfbench/NOTES.md.
"""
import argparse
import csv
import glob
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import build  # noqa: E402
import stats  # noqa: E402

DEADLINE_S = 170  # whole run, build excluded

# Workload parameters. Changing any of them changes the benchmark.
DATA = os.path.join(HERE, "data")
PACED = {"rate": 1200, "tick_ms": 100, "warmup_s": 2, "events": os.path.join(DATA, "sf0.1")}
BACKLOG = {"events": os.path.join(DATA, "sf0.1"), "limit": 10_000, "copies": 10, "files": 20,
           "max_files": 5}
BATCH = {"tables": os.path.join(DATA, "sf0.001"), "passes": 4,
         "queries": {"batch_registry": "queries.txt", "batch_upsert": "queries_upsert.txt"}}

STREAM_QUERIES = {"volume_tracking": "q1", "price_tracking": "q2",
                  "btc_features": "q3", "features_store": "q4"}
PHASES = ["addBatch", "getBatch", "queryPlanning", "walCommit", "commitOffsets", "latestOffset"]

JAVA_OPTS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def metric_names():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        b = json.load(f)
    return ([m["name"] for m in b["end_to_end"]], [m["name"] for m in b["per_layer"]],
            {m["name"]: m["unit"] for m in b["end_to_end"] + b["per_layer"]})


# ------------------------------------------------------------------ host

def loadavg():
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def cpu_times():
    """(steal, total) jiffies of all cpus: on a shared host, steal is the
    time other tenants took from this one."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return v[7], sum(v)


def canary_ms():
    """Fixed single-threaded integer loop, min of 3: a host-speed reference."""
    best = None
    for _ in range(3):
        t = time.perf_counter()
        x, acc = 88172645463325252, 0
        for _ in range(200_000):
            x ^= (x << 13) & 0xFFFFFFFFFFFFFFFF
            x ^= x >> 7
            x ^= (x << 17) & 0xFFFFFFFFFFFFFFFF
            acc += x & 0xFF
        ms = (time.perf_counter() - t) * 1000
        best = ms if best is None else min(best, ms)
    return best


def read_jsonl(path):
    if not os.path.exists(path):
        return []
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


def med(xs):
    return statistics.median(xs) if xs else 0


# ------------------------------------------------------------- streaming

def by_query(progress, tag=None):
    out = {q: [] for q in STREAM_QUERIES.values()}
    for r in progress:
        if tag is None or r["tag"] == tag:
            p = r["p"]
            if p.get("name") in STREAM_QUERIES:
                out[STREAM_QUERIES[p["name"]]].append(p)
    return out


def source_batches(ckpt):
    return {q: stats.file_batches(os.path.join(ckpt, f"query_0{q[1]}", "sources", "0"))
            for q in STREAM_QUERIES.values()}


def read_input_trades(in_dir, files):
    """(file, symbol, t, price, cv) in arrival order: file order, then line
    and array order inside each file."""
    out = []
    for f in files:
        with open(os.path.join(in_dir, f["file"])) as fh:
            for line in fh:
                for t in json.loads(line)["data"]:
                    out.append((f["file"], t["s"], t["t"], t["p"], t["cv"]))
    return out


def check_price_tracking(out_dir, trades):
    """q2 keeps one row per (symbol, t) key, and it must be the key's last
    arrival, as in the reference's last-writer-wins store. Trades that
    share a key collapse into one row; that is expected.

    Returns (mismatching keys, distinct keys, keys whose row is an
    earlier arrival than the last); the third is part of the first."""
    import pyarrow.parquet as pq
    last = {}
    for f, s, t, p, cv in trades:
        last[(s, t)] = (p, cv)
    got = pq.read_table(os.path.join(out_dir, "price_tracking")).to_pylist()
    seen, bad, not_last = set(), 0, 0
    for r in got:
        k = (r["symbol"], r["t"])
        v = (r["price"], r["cv"])
        if k in seen or k not in last:
            bad += 1
        elif v != last[k]:
            bad += 1
            not_last += 1
        seen.add(k)
    bad += len(set(last) - seen)
    return bad, len(last), not_last


def q3_emits(sink_root, progress_q3, files, since_ms):
    """Latency from the creation of a window's last trade to the commit of
    the q3 batch that wrote the window's row."""
    sink = os.path.join(sink_root, "btc_features")
    commit = stats.commit_times(progress_q3)
    file_batch = {}
    for log in glob.glob(os.path.join(sink, "_spark_metadata", "*")):
        bid = int(os.path.basename(log).split(".")[0])
        with open(log) as fh:
            for line in fh:
                if line.startswith("{"):
                    e = json.loads(line)
                    file_batch[os.path.basename(e["path"])] = e.get("batchId", bid)
    # creation stamps, ascending (every file holds trades of every symbol)
    created = sorted(t for f in files for t, _ in f["stamps"])
    samples = []
    for path in glob.glob(os.path.join(sink, "part-*")):
        b = file_batch.get(os.path.basename(path))
        if b is None or b not in commit:
            continue
        with open(path) as fh:
            for row in csv.reader(fh, escapechar="\\", doublequote=False):
                if len(row) != 2:
                    continue
                start = stats.parse_sql_ts_ms(json.loads(row[1])["timestamp"])
                last = [c for c in created if start <= c < start + 30000]
                if last and last[-1] >= since_ms:
                    samples.append(commit[b] - last[-1])
    return samples


def stream_layers(progress, scans, sinks, ckpt, files, jobs, stages, tag=None):
    """Per-layer numbers of the four streaming queries."""
    m = {}
    pq_ = by_query(progress, tag)
    run_ids = {}
    for q, ps in pq_.items():
        for p in ps:
            run_ids[p["runId"]] = q
        trig = [p["durationMs"]["triggerExecution"] for p in ps if "addBatch" in p["durationMs"]]
        m[f"streaming.{q}.batches"] = len(trig)
        m[f"streaming.{q}.trigger_ms_p50"] = med(trig)
        for ph in PHASES:
            m[f"streaming.{q}.{ph}_ms"] = sum(p["durationMs"].get(ph, 0) for p in ps
                                              if "addBatch" in p["durationMs"])
        m[f"streaming.{q}.triggerExecution_ms"] = sum(trig)
    for q in ("q1", "q3"):
        ps = [p for p in pq_[q] if p.get("stateOperators")]
        last = ps[-1]["stateOperators"][0] if ps else {}
        m[f"state.{q}.rows"] = last.get("numRowsTotal", 0)
        m[f"state.{q}.mem_bytes"] = last.get("memoryUsedBytes", 0)
        m[f"state.{q}.commit_ms"] = sum(p["stateOperators"][0].get("commitTimeMs", 0) for p in ps)
        lags = [stats.parse_ts_ms(p["timestamp"]) - stats.parse_ts_ms(p["eventTime"]["watermark"])
                for p in pq_[q] if p.get("eventTime", {}).get("watermark", "1970").startswith("20")]
        m[f"watermark.{q}.lag_ms"] = med(lags)
    for q in ("q1", "q2"):
        sc = [s for s in scans if s["query"] == q and (tag is None or s["tag"] == tag)]
        written = sum(s["bytes"] for s in sc)
        live = sinks.get(q, {}).get("live_bytes", 0)
        m[f"sinks.upsert.{q}.merges"] = sinks.get(q, {}).get("versions", 0)
        m[f"sinks.upsert.{q}.buckets_rewritten"] = sum(s["buckets"] for s in sc)
        m[f"sinks.upsert.{q}.bytes_written"] = written
        m[f"sinks.upsert.{q}.write_amp"] = written / live if live else 0
    for q in ("q3", "q4"):
        m[f"sinks.file.{q}.files"] = sinks.get(q, {}).get("files", 0)
        m[f"sinks.file.{q}.bytes"] = sinks.get(q, {}).get("bytes", 0)
    # Spark jobs of a streaming query carry its run id as the job group
    stage_by_job = {}
    for s in stages:
        stage_by_job.setdefault(s["job"], []).append(s)
    for q in STREAM_QUERIES.values():
        js = [j for j in jobs if run_ids.get(j["group"]) == q]
        ss = [s for j in js for s in stage_by_job.get(j["job"], [])]
        m[f"spark.stream.{q}.jobs"] = len(js)
        m[f"spark.stream.{q}.tasks"] = sum(s["tasks"] for s in ss)
        m[f"spark.stream.{q}.task_cpu_ms"] = sum(s["cpu_ms"] for s in ss)
    # source lag: file visible -> start of the batch that read it
    batches = source_batches(ckpt)
    lag = []
    for q, ps in pq_.items():
        st = stats.start_times(ps)
        for f in files:
            b = batches[q].get(f["file"])
            if b in st and "visible" in f:
                lag.append(st[b] - f["visible"])
    m["source.lag_ms_p50"] = med(lag)
    return m, run_ids


def stream_spans(progress, jobs, stages, run_ids, t_run):
    """run -> micro-batch -> Spark job -> stage."""
    spans = [{"id": "run", "parent": None, "name": "run", "start": t_run[0], "end": t_run[1]}]
    batches = []
    for r in progress:
        p = r["p"]
        d = p["durationMs"]
        if "addBatch" not in d:
            continue
        s = stats.parse_ts_ms(p["timestamp"])
        sid = f"{p['runId']}:{p['batchId']}"
        q = STREAM_QUERIES.get(p["name"], p["name"])
        batches.append((p["runId"], s, s + d["triggerExecution"], sid))
        spans.append({"id": sid, "parent": "run", "name": f"streaming.{q}.batch",
                      "start": s, "end": s + d["triggerExecution"]})
    for j in jobs:
        q = run_ids.get(j["group"])
        parent = next((sid for rid, s, e, sid in batches
                       if rid == j["group"] and s <= j["start"] <= e), "run")
        spans.append({"id": f"job{j['job']}", "parent": parent,
                      "name": f"spark.stream.{q}.job" if q else "spark.job",
                      "start": j["start"], "end": j["end"]})
    job_ids = {j["job"] for j in jobs}
    spans += stage_spans([s for s in stages if s["job"] in job_ids])
    return spans


def stage_spans(stages):
    return [{"id": f"stage{s['stage']}.{s['attempt']}", "parent": f"job{s['job']}",
             "name": "spark.stage", "start": s["submit"], "end": s["complete"]}
            for s in stages if s["submit"]]


def stream_paced(a, work, out, classes, jars, trace):
    import pyarrow.parquet as pq
    n_events = pq.ParquetFile(os.path.join(PACED["events"], "events.parquet")).metadata.num_rows
    offset = (a.seed * 7919) % n_events
    launch, summ = run_jvm(classes, jars, work, out, "stream_paced", a, [
        f"data={PACED['events']}", f"rate={PACED['rate']}", f"tick_ms={PACED['tick_ms']}",
        f"offset={offset}"], DEADLINE_S - 10)
    files = read_jsonl(os.path.join(out, "files.jsonl"))
    progress = [r for r in read_jsonl(os.path.join(out, "progress.jsonl")) if r["tag"] == "paced"]
    pq_ = by_query(progress)
    t0 = summ["t_first_event_ms"]
    since = t0 + PACED["warmup_s"] * 1000
    batches = source_batches(summ["ckpt"])
    commits = {q: stats.commit_times(ps) for q, ps in pq_.items()}
    lat = {q: stats.joint_latencies(files, [(batches[q], commits[q])], since)
           for q in ("q1", "q2")}
    joint, missing = stats.joint_latencies(
        files, [(batches[q], commits[q]) for q in ("q1", "q2")], since)
    trades = read_input_trades(summ["in"], files)
    attempted = len(trades)
    q2_bad, q2_keys, not_last = check_price_tracking(out, trades)
    failed = summ.get("q1_mismatch", attempted) + q2_bad + missing
    q3 = q3_emits(summ["sink_root"], pq_["q3"], files, since)
    total_s = (summ["t_all_processed_ms"] - t0) / 1000
    e2e = {
        "latency_p50_ms": stats.percentile(joint, 50),
        "latency_tail_ms": stats.percentile(joint, 95),
        "throughput_per_s": attempted / total_s,
    }
    layers = {
        "q1_commit_p50_ms": stats.percentile(lat["q1"][0], 50),
        "q1_commit_p99_ms": stats.percentile(lat["q1"][0], 99),
        "q2_commit_p50_ms": stats.percentile(lat["q2"][0], 50),
        "q2_commit_p99_ms": stats.percentile(lat["q2"][0], 99),
        "q3_emit_p50_ms": stats.percentile(q3, 50),
        "gen.late_ms_p99": stats.percentile([f["written"] - f["due"] for f in files], 99),
        "gen.trades": attempted,
        "gen.bytes": sum(f["bytes"] for f in files),
        "sinks.upsert.q2.keys_collapsed": attempted - q2_keys,
    }
    detail = {
        "samples": {"latency": stats.summarize(joint, (50, 95, 99)),
                    "q1": stats.summarize(lat["q1"][0]),
                    "q2": stats.summarize(lat["q2"][0]), "q3_emit": stats.summarize(q3, (50,)),
                    "gen_late": stats.summarize([f["written"] - f["due"] for f in files])},
        "warmup_excluded_s": PACED["warmup_s"], "offered_rate": PACED["rate"],
        "generator_s": (summ["t_gen_end_ms"] - t0) / 1000,
        "catchup_ms": summ["t_all_processed_ms"] - summ["t_gen_end_ms"],
        "checks": {"q1_mismatch_rows": summ.get("q1_mismatch"), "q1_rows": summ.get("q1_rows"),
                   "q1_expected_rows": summ.get("q1_expected_rows"),
                   "q2_mismatch_keys": q2_bad,
                   "q2_keys": q2_keys, "q2_keys_collapsed": attempted - q2_keys,
                   "q2_not_last_arrival": not_last,
                   "trades_never_committed": missing},
    }
    if trace:
        jobs, stages = read_jsonl(os.path.join(out, "jobs.jsonl")), read_jsonl(
            os.path.join(out, "stages.jsonl"))
        m, run_ids = stream_layers(progress, read_jsonl(os.path.join(out, "upsert_scans.jsonl")),
                                   summ["sinks"], summ["ckpt"], files, jobs, stages, "paced")
        layers.update(m)
        detail["spans"] = stream_spans(progress, jobs, stages, run_ids,
                                       (t0, summ["t_all_processed_ms"]))
    return launch, summ, e2e, layers, detail, attempted, failed


def stream_backlog(a, work, out, classes, jars, trace):
    launch, summ = run_jvm(classes, jars, work, out, "stream_backlog", a, [
        f"data={BACKLOG['events']}", f"limit={BACKLOG['limit']}", f"copies={BACKLOG['copies']}",
        f"files={BACKLOG['files']}", f"max_files={BACKLOG['max_files']}"], DEADLINE_S - 10)
    drains = [d for d in read_jsonl(os.path.join(out, "drains.jsonl")) if not d["warmup"]]
    progress = read_jsonl(os.path.join(out, "progress.jsonl"))
    n = summ["trades"]
    files = []
    for name in sorted(os.listdir(summ["in"])):
        with open(os.path.join(summ["in"], name)) as fh:
            k = sum(line.count('"s":') for line in fh)
        files.append({"file": name, "stamps": [[0, k]]})
    eps, p50s, tails, missing = [], [], [], 0
    for d in drains:
        tag = f"drain-{d['drain']}"
        pq_ = by_query(progress, tag)
        batches = source_batches(d["ckpt"])
        joint, miss = stats.joint_latencies(
            files, [(batches[q], stats.commit_times(pq_[q])) for q in ("q1", "q2")],
            origin=d["start"])
        missing += miss
        eps.append(n / ((d["end"] - d["start"]) / 1000))
        p50s.append(stats.percentile(joint, 50))
        tails.append(stats.percentile(joint, 95))
    trades = read_input_trades(summ["in"], files)
    q2_bad, q2_keys, not_last = check_price_tracking(out, trades)
    attempted = n
    failed = summ.get("q1_mismatch", n) + q2_bad + missing
    e2e = {"latency_p50_ms": med(p50s), "latency_tail_ms": med(tails),
           "throughput_per_s": med(eps)}
    layers = {"gen.trades": n, "gen.bytes": sum(os.path.getsize(os.path.join(summ["in"], f["file"]))
                                                for f in files),
              "sinks.upsert.q2.keys_collapsed": len(trades) - q2_keys}
    detail = {"drains": [{"drain": d["drain"], "s": (d["end"] - d["start"]) / 1000,
                          "eps": e, "p50_ms": p, "p95_ms": t}
                         for d, e, p, t in zip(drains, eps, p50s, tails)],
              "checks": {"q1_mismatch_rows": summ.get("q1_mismatch"), "q1_rows": summ.get("q1_rows"),
                         "q1_expected_rows": summ.get("q1_expected_rows"),
                         "q2_mismatch_keys": q2_bad,
                         "q2_keys": q2_keys, "q2_not_last_arrival": not_last,
                         "trades_never_committed": missing},
              "input_write_ms": summ.get("input_write_ms")}
    if trace and drains:
        d = drains[-1]
        tag = f"drain-{d['drain']}"
        jobs, stages = read_jsonl(os.path.join(out, "jobs.jsonl")), read_jsonl(
            os.path.join(out, "stages.jsonl"))
        prog = [r for r in progress if r["tag"] == tag]
        m, run_ids = stream_layers(prog, read_jsonl(os.path.join(out, "upsert_scans.jsonl")),
                                   d["sinks"], d["ckpt"], files, jobs, stages, tag)
        layers.update(m)
        detail["spans"] = stream_spans(prog, [j for j in jobs if j["group"] in run_ids],
                                       [], run_ids, (d["start"], d["end"]))
    return launch, summ, e2e, layers, detail, attempted, failed


# ----------------------------------------------------------------- batch

def check_oracle(tables, verify_dir, spill_dir, names):
    """Each query's warm-up dump against its oracle SQL in DuckDB, by the
    repository's own checker (tools/check_oracle.py). Returns {query:
    reason} for every query it did not pass."""
    r = subprocess.run([sys.executable, os.path.join(ROOT, "tools", "check_oracle.py"),
                        tables, verify_dir], cwd=ROOT, env={**os.environ, "DUCKDB_TMP": spill_dir},
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True, timeout=60)
    passed = {line.split()[1] for line in r.stdout.splitlines() if line.startswith("PASS ")}
    reasons = {line[5:].split(":")[0]: line[5:] for line in r.stdout.splitlines()
               if line.startswith("FAIL ")}
    return {n: reasons.get(n, "no PASS line from check_oracle.py") for n in names
            if n not in passed}


def batch_registry(a, work, out, classes, jars, trace):
    with open(os.path.join(HERE, BATCH["queries"][a.workload])) as f:
        names = [line.strip() for line in f if line.strip() and not line.startswith("#")]
    launch, summ = run_jvm(classes, jars, work, out, "batch_registry", a, [
        f"data={BATCH['tables']}", f"queries={','.join(names)}",
        f"passes={BATCH['passes']}"], DEADLINE_S - 20)
    runs = read_jsonl(os.path.join(out, "queries.jsonl"))
    bad = check_oracle(BATCH["tables"], os.path.join(out, "verify"),
                       os.path.join(work, "duckdb"), names)
    bad.update({n: f"warm-up: {e}" for n, e in summ.get("warm_failed", {}).items()})
    bad.update({r["query"]: r["err"] for r in runs if r["err"]})
    per_q, cpu_q = {}, {}
    for r in runs:
        per_q.setdefault(r["query"], []).append(r["wall_ms"])
        cpu_q.setdefault(r["query"], []).append(r["cpu_ms"])
    walls = {n: statistics.median(v) for n, v in per_q.items()}
    cpus = {n: statistics.median(v) for n, v in cpu_q.items()}
    suite = sum(walls.values()) / 1000
    q = list(walls.values())
    e2e = {"latency_p50_ms": stats.percentile(q, 50),
           "latency_tail_ms": stats.percentile(q, 95),
           "throughput_per_s": len(q) / suite}
    layers = {"tables.stage_ms": summ.get("stage_ms", 0), "jvm.cpu_ms": sum(cpus.values())}
    detail = {"queries": len(names), "passes": summ.get("passes"), "suite_s": suite,
              "stage_ms": summ.get("stage_ms"), "warm_ms": summ.get("warm_ms"),
              "per_query_median_ms": walls, "per_query_cpu_median_ms": cpus,
              "per_query_passes_ms": per_q, "failed": bad,
              "samples": {"query": stats.summarize(q, (50, 95))}}
    if trace:
        m, spans, remainder = batch_layers(runs, read_jsonl(os.path.join(out, "jobs.jsonl")),
                                           read_jsonl(os.path.join(out, "stages.jsonl")),
                                           summ["passes"], int(a.cpus))
        layers.update(m)
        detail["spans"] = spans
        detail["remainder_ms"] = remainder
    return launch, summ, e2e, layers, detail, len(names), len(bad)


def batch_layers(runs, jobs, stages, passes, cores):
    """build / plan / exec split of each timed query, jobs and stages by
    the query's job group. Plan = end of the build call to the first Spark
    job of the noop write; exec = the rest of the write."""
    jobs_by_group, stage_by_job = {}, {}
    for j in jobs:
        jobs_by_group.setdefault(j["group"], []).append(j)
    for s in stages:
        stage_by_job.setdefault(s["job"], []).append(s)
    t = {k: 0.0 for k in ("build", "plan", "exec", "build_jobs", "jobs", "stages", "tasks",
                          "run_ms", "cpu_ms", "gc_ms", "sr", "sw")}
    skews, spans, remainder = [], [], {}
    runs = sorted(runs, key=lambda r: r["start"])
    for i, r in enumerate(runs):
        s0 = r["start"]
        b_end = s0 + r["build_ms"]
        end = s0 + r["wall_ms"]
        js = sorted(jobs_by_group.get(r["group"], []), key=lambda j: j["start"])
        build_jobs = [j for j in js if j["start"] < b_end]
        exec_jobs = [j for j in js if j["start"] >= b_end]
        first = exec_jobs[0]["start"] if exec_jobs else end
        plan = max(0.0, min(first, end) - b_end)
        t["build"] += r["build_ms"]
        t["plan"] += plan
        t["exec"] += r["wall_ms"] - r["build_ms"] - plan
        t["build_jobs"] += len(build_jobs)
        t["jobs"] += len(js)
        qid = r["group"]
        spans.append({"id": qid, "parent": "run", "name": "query", "start": s0, "end": end})
        spans.append({"id": qid + "/build", "parent": qid, "name": "entry.build",
                      "start": s0, "end": b_end})
        spans.append({"id": qid + "/plan", "parent": qid, "name": "spark.plan",
                      "start": b_end, "end": b_end + plan})
        spans.append({"id": qid + "/exec", "parent": qid, "name": "spark.exec",
                      "start": b_end + plan, "end": end})
        for j in js:
            parent = qid + ("/build" if j["start"] < b_end else "/exec")
            spans.append({"id": f"job{j['job']}", "parent": parent, "name": "spark.job",
                          "start": j["start"], "end": j["end"]})
            for s in stage_by_job.get(j["job"], []):
                t["stages"] += 1
                t["tasks"] += s["tasks"]
                t["run_ms"] += s["run_ms"] if j["start"] >= b_end else 0
                t["cpu_ms"] += s["cpu_ms"]
                t["gc_ms"] += s["gc_ms"]
                t["sr"] += s["shuffle_read_bytes"]
                t["sw"] += s["shuffle_write_bytes"]
                if s["tasks"] >= 2 and s["task_median_ms"] > 0:
                    skews.append(s["task_max_ms"] / s["task_median_ms"])
        nxt = runs[i + 1]["start"] if i + 1 < len(runs) else end
        remainder[qid] = max(0, nxt - end)
    timed = {r["group"] for r in runs}
    timed_jobs = {j["job"] for j in jobs if j["group"] in timed}
    spans += stage_spans([s for s in stages if s["job"] in timed_jobs])
    if runs:
        spans.insert(0, {"id": "run", "parent": None, "name": "run", "start": runs[0]["start"],
                         "end": max(r["start"] + r["wall_ms"] for r in runs)})
    wall = sum(r["wall_ms"] for r in runs)
    elapsed = (spans[0]["end"] - spans[0]["start"]) if runs else 0
    p = max(passes, 1)
    m = {
        "entry.build_ms": t["build"] / p, "entry.build_jobs": t["build_jobs"] / p,
        "entry.unattributed_ms": (elapsed - wall) / p,
        "entry.attributed_share": (t["build"] + t["plan"] + t["exec"]) / elapsed if elapsed else 0,
        "spark.plan_ms": t["plan"] / p, "spark.exec_ms": t["exec"] / p,
        "spark.jobs": t["jobs"] / p, "spark.stages": t["stages"] / p, "spark.tasks": t["tasks"] / p,
        "spark.exec_idle_share": 1 - t["run_ms"] / (t["exec"] * cores) if t["exec"] else 0,
        "spark.gc_ms": t["gc_ms"] / p, "spark.task_cpu_ms": t["cpu_ms"] / p,
        "spark.shuffle_read_bytes": t["sr"] / p, "spark.shuffle_write_bytes": t["sw"] / p,
        "spark.skew_max_over_median": med(skews),
    }
    return m, spans, remainder


# -------------------------------------------------------------------- jvm

def run_jvm(classes, jars, work, out, mode, a, extra, timeout):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java"] + JAVA_OPTS + ["-Xmx2g", "-XX:+UseG1GC", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
                                   "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
                                   "-cp", f"{classes}:{jars}/*", "perfbench.Harness",
                                   f"mode={mode}", f"work={work}", f"out={out}",
                                   f"seconds={a.seconds}", f"trace={a.trace}",
                                   f"cpus={a.cpus}"] + extra)
    log = os.path.join(out, "jvm.log")
    launch = time.time() * 1000
    with open(log, "w") as lf:
        p = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT, cwd=work)
        try:
            p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            raise RuntimeError(f"harness exceeded {timeout} s; see {log}")
    path = os.path.join(out, "summary.json")
    if not os.path.exists(path):
        with open(log) as lf:
            sys.stderr.write(lf.read()[-3000:])
        raise RuntimeError(f"harness exited {p.returncode} without a summary")
    with open(path) as f:
        summ = json.load(f)
    if summ["errors"]:
        sys.stderr.write("harness errors: %s\n" % summ["errors"])
    return launch, summ


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True,
                    choices=["stream_paced", "stream_backlog", "batch_registry", "batch_upsert"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--cpus", type=int, default=0,
                    help="Spark local[n] threads; default: every cpu of the host")
    a = ap.parse_args()
    t_start = time.time()
    cpu0 = cpu_times()
    host = {"nproc": len(os.sched_getaffinity(0)), "loadavg_start": loadavg(),
            "canary_ms": canary_ms()}
    a.cpus = a.cpus or host["nproc"]
    host["spark_cpus"] = a.cpus
    e2e_names, layer_names, units = metric_names()
    classes, jars = build.build()
    build_s = time.time() - t_start
    work = os.path.join(ROOT, ".bench_work", f"{a.workload}-{a.seed}-{os.getpid()}")
    out = os.path.join(work, "out")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(out)
    try:
        host["loadavg_before_jvm"] = loadavg()
        fn = {"stream_paced": stream_paced, "stream_backlog": stream_backlog,
              "batch_registry": batch_registry, "batch_upsert": batch_registry}[a.workload]
        launch, summ, e2e, layers, detail, attempted, failed = fn(
            a, work, out, classes, jars, a.trace == 1)
        failed += len(summ["errors"])
        setup_ms = summ["t_first_event_ms"] - launch - summ.get("input_write_ms", 0)
        e2e["setup_s"] = setup_ms / 1000
        e2e["retained_heap_mb"] = summ.get("retained_heap_bytes", 0) / 2**20
        heap = [b / 2**20 for b in summ["heap_after_gc_bytes"]] or [0]
        layers["jvm.heap_after_gc_mean_mb"] = statistics.mean(heap)
        detail["heap_after_gc_mb"] = {"collections": len(heap), "max": max(heap)}
        layers["jvm.peak_rss_mb"] = summ["peak_rss_kb"] / 1024
        cpu1 = cpu_times()
        host["cpu_steal_share"] = (cpu1[0] - cpu0[0]) / max(cpu1[1] - cpu0[1], 1)
        # contended: other tenants took more than 5% of the cpu time. The
        # load average cannot tell: inside the VM it counts only this
        # machine's own processes, including a previous run's JVM.
        host["contended"] = host["cpu_steal_share"] > 0.05
        spans = detail.pop("spans", [])
        if spans:
            detail["self_time_ms"] = stats.self_times(spans)
        names = layer_names if a.trace else e2e_names
        vals = {**e2e, **layers}
        metrics = {n: {"value": float(vals.get(n) or 0), "unit": units[n]} for n in names}
        artifact = {"workload": a.workload, "seed": a.seed, "seconds": a.seconds,
                    "trace": a.trace, "host": host, "build_s": build_s,
                    "end_to_end": e2e, "per_layer": layers, "detail": detail,
                    "errors": summ["errors"], "attempted": attempted, "failed": failed,
                    "wall_s": time.time() - t_start}
        os.makedirs(os.path.join(ROOT, ".bench_out"), exist_ok=True)
        stem = os.path.join(ROOT, ".bench_out", f"{a.workload}-seed{a.seed}-trace{a.trace}")
        with open(stem + ".json", "w") as f:
            json.dump(artifact, f, indent=1, default=str)
        if spans:
            with open(stem + ".spans.jsonl", "w") as f:
                f.writelines(json.dumps(s) + "\n" for s in spans)
        print(json.dumps({"host": host, "fail_ratio": failed / max(attempted, 1),
                          "artifact": os.path.relpath(stem + ".json", ROOT)}))
        print(json.dumps({"correct": failed == 0, "attempted": int(attempted),
                          "failed": int(failed), "metrics": metrics}))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
