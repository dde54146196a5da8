"""Percentiles and the creation-stamp -> commit latency join.

Pure functions over plain Python values, so they can be tested without a
JVM (see tests/test_stats.py).
"""
import datetime
import json
import math
import os


def percentile(values, p):
    """Nearest-rank percentile: the smallest value with at least p% of the
    samples at or below it. Returns None for no samples."""
    if not values:
        return None
    s = sorted(values)
    return s[rank(len(s), p) - 1]


def rank(n, p):
    """1-based nearest rank of the p-th percentile among n samples."""
    return max(1, math.ceil(p * n / 100.0 - 1e-9))


def beyond(n, p):
    """How many of n samples lie strictly beyond the nearest-rank p-th
    percentile position."""
    return n - rank(n, p) if n else 0


def supported_tail(n, candidates=(99.9, 99.0, 95.0, 90.0, 75.0)):
    """The highest candidate percentile with at least ten samples beyond
    it, or None when even the lowest has fewer."""
    for p in candidates:
        if beyond(n, p) >= 10:
            return p
    return None


def summarize(values, ps=(50, 99)):
    """{"n": count, "p50": ..., "p99": ..., "p99_beyond": samples beyond,
    "tail_supported": highest percentile with ten samples beyond}."""
    out = {"n": len(values), "tail_supported": supported_tail(len(values))}
    for p in ps:
        key = f"p{p:g}"
        out[key] = percentile(values, p)
        out[f"{key}_beyond"] = beyond(len(values), p)
    return out


def parse_ts_ms(s):
    """Streaming progress timestamps, e.g. 2026-01-01T00:00:00.123Z."""
    d = datetime.datetime.strptime(s.rstrip("Z"), "%Y-%m-%dT%H:%M:%S.%f")
    return int(d.replace(tzinfo=datetime.timezone.utc).timestamp() * 1000 + 0.5)


def parse_sql_ts_ms(s):
    """Spark's CAST(timestamp AS STRING) in a UTC session."""
    d = datetime.datetime.strptime(s, "%Y-%m-%d %H:%M:%S")
    return int(d.replace(tzinfo=datetime.timezone.utc).timestamp() * 1000)


def commit_times(progress):
    """batchId -> commit wall time (ms) from a query's progress reports:
    trigger start plus the trigger's whole duration."""
    out = {}
    for p in progress:
        d = p.get("durationMs", {})
        if "triggerExecution" in d and "addBatch" in d:
            out[p["batchId"]] = parse_ts_ms(p["timestamp"]) + d["triggerExecution"]
    return out


def start_times(progress):
    """batchId -> trigger start wall time (ms)."""
    return {p["batchId"]: parse_ts_ms(p["timestamp"]) for p in progress
            if "addBatch" in p.get("durationMs", {})}


def file_batches(source_log_dir):
    """file name -> batchId from a file source's offset log (the
    `sources/0` directory of a query checkpoint). Compacted and plain log
    files both list entries as JSON lines after a version header."""
    out = {}
    if not os.path.isdir(source_log_dir):
        return out
    for name in os.listdir(source_log_dir):
        if name.startswith(".") or name.endswith(".tmp"):
            continue
        with open(os.path.join(source_log_dir, name)) as f:
            for line in f:
                line = line.strip()
                if not line.startswith("{"):
                    continue
                e = json.loads(line)
                out[os.path.basename(e["path"])] = e["batchId"]
    return out


def joint_latencies(files, joins, since_ms=None, origin=None):
    """Per-trade latency samples (ms): each trade's creation stamp joined
    to the commit of the batch that read its file, for the LAST of the
    queries in `joins` to commit it.

    files:    iterable of {"file": name, "stamps": [[created_ms, trades], ...]}
    joins:    list of (batch_of, commit_of) pairs, one per query, where
              batch_of maps file name -> batchId (the source log) and
              commit_of maps batchId -> commit time (ms)
    since_ms: drop trades created before this (warm-up interval)
    origin:   measure from this time instead of each trade's creation
              (a backlog that exists before the queries start)

    Returns (samples, missing): `missing` counts trades whose file some
    query never read or whose batch never committed."""
    samples, missing = [], 0
    for f in files:
        stamps = [(t, n) for t, n in f["stamps"] if since_ms is None or t >= since_ms]
        if not stamps:
            continue
        cs = []
        for batch_of, commit_of in joins:
            b = batch_of.get(f["file"])
            cs.append(commit_of.get(b) if b is not None else None)
        if any(c is None for c in cs):
            missing += sum(n for _, n in stamps)
            continue
        done = max(cs)
        for t, n in stamps:
            samples.extend([done - (t if origin is None else origin)] * n)
    return samples, missing


def self_times(spans):
    """name -> summed self time (ms): each span's duration minus the part
    of its interval covered by its children."""
    children = {}
    for s in spans:
        children.setdefault(s.get("parent"), []).append(s)
    out = {}
    for s in spans:
        iv = sorted((max(c["start"], s["start"]), min(c["end"], s["end"]))
                    for c in children.get(s["id"], []))
        covered, cur_s, cur_e = 0, None, None
        for a, b in iv:
            if b <= a:
                continue
            if cur_e is None or a > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = a, b
            else:
                cur_e = max(cur_e, b)
        if cur_e is not None:
            covered += cur_e - cur_s
        out[s["name"]] = out.get(s["name"], 0) + (s["end"] - s["start"]) - covered
    return out
