#!/usr/bin/env python3
"""One-command round gate (r14 verdict directive #4).

The round closeout previously took four hand-run sweeps — sf0.01
correctness + oracle-type check, sf0.1 correctness, the money-magnitude
stress gate, and two stress symmetry triages — and a sweep skipped by
hand is a sweep skipped silently. This tool runs all of them and emits
ONE machine-readable disposition JSON the BUILDLOG closeout quotes.

Phases
  sf0.01        full-registry Verify + DuckDB hash compare + oracle
                result-type gate (check_oracle_types.py)
  sf0.1         full-registry Verify + DuckDB hash compare
  stress_rel    full-registry Verify on the money-magnitude relational
                corpus (tools/make_stress.py relational), every query
                classified PASS / LOUD-BOTH / EMPTY-OK / ASYMMETRIC /
                VALUE-FAIL (classify_stress). It judges the WHOLE
                registry, a superset of the DECIMAL(18,6) money queries,
                so it is the money-magnitude sweep (exact match, both
                engines loud, or both empty passes; one-sided errors
                and value mismatches fail) AND the loud-symmetry triage
                that caught w_kyle_lambda in r14
  stress_dense  same on the dense (row-replicated events) corpus

Disposition is GREEN iff: zero sf0.01/sf0.1 hash failures, the type
gate is clean, and neither stress phase has an ASYMMETRIC or
VALUE-FAIL row. Anything else is RED with the offender named.

  bench         (opt-in, --bench) quiet-host bench floor: runs
                graft.Bench at --sf01 with REPS, REFUSES to bless the
                artifact when the host was loaded before the run or
                suspiciously loaded after it (r15 shipped a floor that
                read 1.33x purely from contention), and computes the
                shared-query ratio vs --bench-floor. PASS writes the
                round-stamped --bench-out; RETRY leaves the artifact in
                the workdir and names the reason.
  plan_shape    (opt-in, --plan-shape FILE) deterministic plan-shape
                regression detection: runs graft.PlanAudit (AQE off,
                sf0.001) and diffs structural node counts per query
                against the committed baseline FILE — a new shuffle or
                a lost broadcast is a diff row even when timing noise
                hides it. The fresh audit overwrites FILE on a clean
                gate so the baseline tracks blessed HEADs.

Usage:
  python3 tools/gate.py [--out gate.json] [--workdir DIR] [--jar JAR]
      [--sf001 DIR] [--sf01 DIR] [--stress-rel DIR] [--stress-dense DIR]
      [--skip sf0.1,stress_dense] [--cpus N]
      [--bench] [--bench-out BENCH_LOCAL_rNN.json]
      [--bench-floor BENCH_LOCAL_rMM.json] [--bench-reps 3]
      [--plan-shape PLAN_SHAPE.json]

Defaults regenerate the stress corpora from sf0.01 (deterministic) and
snapshot target/scala-2.13/classes into a jar. Verify runs through
spark-submit (NOT raw java: the JDK17 --add-opens flags matter the
first time a cached block spills — the r14 sf10 lesson).
"""
import argparse, datetime, glob, json, os, re, shutil, subprocess, sys
import tempfile

import duckdb
import numpy as np
import pandas as pd

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SPARK_SUBMIT = "/opt/spark/bin/spark-submit"


def sh(cmd, env=None, capture=False, check=True):
    e = dict(os.environ)
    if env:
        e.update(env)
    r = subprocess.run(cmd, env=e, check=check,
                       stdout=subprocess.PIPE if capture else None,
                       stderr=subprocess.STDOUT if capture else None)
    return r.stdout.decode() if capture else None


def snapshot_jar(workdir):
    classes = os.path.join(REPO, "target/scala-2.13/classes")
    jar = os.path.join(workdir, "graft.jar")
    subprocess.run(["jar", "cf", jar, "-C", classes, "."], check=True)
    return jar


def run_verify(jar, sf_dir, out_dir, cpus, shuffle, extra_env=None):
    env = {"SPARK_GRAFT_CPUS": str(cpus),
           "SPARK_GRAFT_SHUFFLE_PARTITIONS": str(shuffle)}
    if extra_env:
        env.update(extra_env)
    sh([SPARK_SUBMIT, "--driver-memory", "48g", "--class", "graft.Verify",
        jar, sf_dir, out_dir], env=env, capture=True)
    return json.load(open(f"{out_dir}/failed.json"))


def check_oracle(sf_dir, out_dir):
    """Run the hash compare; return (passed, failed, fail_names)."""
    p = subprocess.run(
        [sys.executable, os.path.join(REPO, "tools/check_oracle.py"),
         sf_dir, out_dir],
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT)
    text = p.stdout.decode()
    m = re.search(r"(\d+) passed, (\d+) failed", text)
    fails = re.findall(r"^FAIL (\S+?):", text, re.M)
    return (int(m.group(1)), int(m.group(2)), sorted(set(fails)), text)


def check_types(sf_dir, out_dir):
    p = subprocess.run(
        [sys.executable, os.path.join(REPO, "tools/check_oracle_types.py"),
         sf_dir, f"{out_dir}/oracle_sql.json", out_dir],
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT)
    return p.returncode == 0, p.stdout.decode()[-2000:]


def normalize(df):
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = df[c].astype("datetime64[us]")
    return df.sort_values(by=list(df.columns),
                          na_position="first").reset_index(drop=True)


def classify_stress(tag, sf_dir, out_dir, spark_failed, oracle):
    """Per-query stress verdict over the whole registry."""
    con = duckdb.connect()
    if os.environ.get("DUCKDB_MEM"):
        con.sql(f"SET memory_limit='{os.environ['DUCKDB_MEM']}'")
    spill = (os.environ.get("DUCKDB_TMP", "/tmp/duckdb_oracle_spill")
             + f"/pid{os.getpid()}")
    os.makedirs(spill, exist_ok=True)  # DuckDB won't create parents
    con.sql(f"SET temp_directory='{spill}'")
    for p in glob.glob(f"{sf_dir}/*.parquet"):
        t = os.path.basename(p)[: -len(".parquet")]
        src = f"{p}/*.parquet" if os.path.isdir(p) else p
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{src}'")
    counts = {"pass": 0, "loud_both": 0, "empty_ok": 0}
    asym, vfail = [], []
    for name in sorted(oracle):
        duck_err, ddf = None, None
        try:
            ddf = normalize(con.sql(oracle[name]).df())
        except Exception as e:
            duck_err = str(e).split("\n")[0][:160]
        if name in spark_failed:
            if duck_err is not None:
                counts["loud_both"] += 1
            else:
                asym.append(f"{name}: Spark raised "
                            f"({spark_failed[name][:90]}) but DuckDB "
                            f"answered {len(ddf)} rows")
            continue
        if duck_err is not None:
            asym.append(f"{name}: DuckDB raised ({duck_err}) "
                        "but Spark answered")
            continue
        spark_path = f"{out_dir}/{name}"
        if not os.path.isdir(spark_path):
            vfail.append(f"{name}: no spark output")
            continue
        try:
            sdf = normalize(pd.read_parquet(spark_path))
        except Exception:
            # empty scratch-parquet (zero-row fixed-predicate selection)
            if len(ddf) == 0:
                counts["empty_ok"] += 1
                continue
            vfail.append(f"{name}: unreadable spark output")
            continue
        if len(sdf) == 0 and len(ddf) == 0:
            counts["empty_ok"] += 1
            continue
        if list(sdf.columns) != list(ddf.columns) or len(sdf) != len(ddf):
            vfail.append(f"{name}: shape spark={len(sdf)}x"
                         f"{list(sdf.columns)} duck={len(ddf)}x"
                         f"{list(ddf.columns)}")
            continue
        try:
            pd.testing.assert_frame_equal(sdf, ddf, check_dtype=False,
                                          check_exact=True)
            counts["pass"] += 1
        except AssertionError:
            detail = ""
            for c in sdf.columns:
                a, b = sdf[c].values, ddf[c].values
                neq = ~((pd.Series(a) == pd.Series(b))
                        | (pd.isna(a) & pd.isna(b))).values
                if neq.any():
                    i = int(np.argmax(neq))
                    detail = f" col={c} row={i}: spark={a[i]!r} duck={b[i]!r}"
                    break
            vfail.append(f"{name}: VALUE MISMATCH{detail}")
    con.close()
    return {**counts, "asymmetric": asym, "value_fail": vfail}


def loadavg1():
    try:
        return float(open("/proc/loadavg").read().split()[0])
    except Exception:
        return -1.0


def run_bench(jar, sf_dir, workdir, reps, cpus, floor_path, out_path,
              load_before_thr, load_after_thr):
    """Quiet-floor bench phase: PASS blesses the artifact to out_path,
    RETRY names why and leaves it in the workdir."""
    lb = loadavg1()
    if lb > load_before_thr:
        return {"verdict": "RETRY",
                "reason": f"host not quiet before run (load {lb} > "
                          f"{load_before_thr}) — rerun when idle"}
    art = os.path.join(workdir, "bench_gate.json")
    sh([SPARK_SUBMIT, "--driver-memory", "48g", "--class", "graft.Bench",
        jar],
       env={"SPARK_GRAFT_SF_DIR": sf_dir,
            "SPARK_GRAFT_REPS": str(reps),
            "SPARK_GRAFT_CPUS": str(cpus),
            "SPARK_GRAFT_BENCH_OUT": art},
       capture=True)
    run = json.load(open(art))
    ph = {"total": run["value"], "n_queries": len(run["queries"]),
          "failed": run["failed"], "load_before": run["load_before"],
          "load_after": run["load_after"]}
    if run["failed"]:
        bad = sorted(k for k, v in run["queries"].items() if v == "err")
        ph.update(verdict="RETRY",
                  reason=f"{run['failed']} queries errored: {bad[:8]}")
        return ph
    if run.get("contended"):
        ph.update(verdict="RETRY",
                  reason=f"bench self-reported contended "
                         f"(load_before {run['load_before']})")
        return ph
    if run["load_after"] > load_after_thr:
        ph.update(verdict="RETRY",
                  reason=f"load_after {run['load_after']} > "
                         f"{load_after_thr}: something else loaded the "
                         f"host mid-run (the r15 failure mode) — rerun")
        return ph
    if floor_path and os.path.exists(floor_path):
        floor = json.load(open(floor_path))
        # r16 lesson: floors at different parallelism are not
        # comparable (the canary normalizes host speed, not thread
        # count) — refuse rather than emit a misleading ratio
        if ("cpus" in run and "cpus" in floor
                and run["cpus"] != floor["cpus"]):
            ph.update(verdict="RETRY",
                      reason=f"floor cpu mismatch: run at {run['cpus']} "
                             f"cpus vs floor {floor_path} at "
                             f"{floor['cpus']} — pick a same-cpu floor")
            return ph
        shared = sorted(k for k in run["queries"]
                        if k in floor["queries"]
                        and not isinstance(run["queries"][k], str)
                        and not isinstance(floor["queries"][k], str))
        tot_new = sum(run["queries"][k] for k in shared)
        tot_old = sum(floor["queries"][k] for k in shared)
        ratios = sorted(run["queries"][k] / floor["queries"][k]
                        for k in shared if floor["queries"][k] > 0)
        regressions = sorted(
            (k for k in shared
             if floor["queries"][k] > 0
             and run["queries"][k] > 1.5 * floor["queries"][k]
             and run["queries"][k] - floor["queries"][k] > 0.5),
            key=lambda k: -(run["queries"][k] / floor["queries"][k]))
        ph["vs_floor"] = {
            "floor": floor_path, "shared": len(shared),
            "total_new": round(tot_new, 2), "total_old": round(tot_old, 2),
            "total_ratio": round(tot_new / tot_old, 4) if tot_old else None,
            "median_ratio": round(ratios[len(ratios) // 2], 4)
                            if ratios else None,
            "regressions_gt1.5x_gt0.5s": [
                {"query": k,
                 "old": round(floor["queries"][k], 3),
                 "new": round(run["queries"][k], 3)} for k in regressions]}
        # host-epoch normalization (r16 lesson): when both artifacts
        # carry the single-thread canary, report the ratio at constant
        # host speed as well — a uniform drift shows up in the canary,
        # a code regression doesn't
        if "canary_sec" in run and "canary_sec" in floor and tot_old:
            cr = run["canary_sec"] / floor["canary_sec"]
            ph["vs_floor"]["canary_ratio"] = round(cr, 4)
            ph["vs_floor"]["total_ratio_canary_norm"] = round(
                (tot_new / tot_old) / cr, 4)
    ph["verdict"] = "PASS"
    if out_path:
        shutil.copyfile(art, out_path)
        ph["artifact"] = out_path
    return ph


def run_plan_shape(jar, workdir, cpus, baseline_path):
    """PlanAudit diff vs the committed baseline; returns the phase dict
    and the fresh audit path (for baseline refresh on a clean gate)."""
    fresh_path = os.path.join(workdir, "plan_shape.json")
    sh([SPARK_SUBMIT, "--driver-memory", "16g", "--class", "graft.PlanAudit",
        jar, "/root/testdata/sf0.001", fresh_path],
       env={"SPARK_GRAFT_CPUS": str(cpus)}, capture=True)
    fresh = json.load(open(fresh_path))
    ph = {"audited": len(fresh),
          "errs": sorted(k for k, v in fresh.items() if v == "err")}
    if baseline_path and os.path.exists(baseline_path):
        base = json.load(open(baseline_path))
        added = sorted(set(fresh) - set(base))
        removed = sorted(set(base) - set(fresh))
        changed = {}
        for k in sorted(set(fresh) & set(base)):
            if fresh[k] != base[k]:
                fk = fresh[k] if isinstance(fresh[k], dict) else {}
                bk = base[k] if isinstance(base[k], dict) else {}
                changed[k] = {n: [bk.get(n, 0), fk.get(n, 0)]
                              for n in sorted(set(fk) | set(bk))
                              if fk.get(n, 0) != bk.get(n, 0)}
        ph["diff"] = {"added": added, "removed": removed,
                      "changed": changed}
    else:
        ph["diff"] = {"baseline_missing": True}
    return ph, fresh_path


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--out", default="/tmp/gate_result.json")
    ap.add_argument("--workdir", default=None)
    ap.add_argument("--jar", default=None)
    ap.add_argument("--sf001", default="/root/testdata/sf0.01")
    ap.add_argument("--sf01", default="/root/testdata/sf0.1")
    ap.add_argument("--stress-rel", default=None)
    ap.add_argument("--stress-dense", default=None)
    ap.add_argument("--skip", default="")
    ap.add_argument("--cpus", type=int, default=16)
    ap.add_argument("--shuffle", type=int, default=32)
    ap.add_argument("--bench", action="store_true")
    ap.add_argument("--bench-out", default=None)
    ap.add_argument("--bench-floor", default=None)
    ap.add_argument("--bench-reps", type=int, default=3)
    ap.add_argument("--load-before-thr", type=float, default=2.0)
    ap.add_argument("--load-after-thr", type=float, default=7.0)
    ap.add_argument("--plan-shape", default=None)
    ap.add_argument("--bless-plan-shape", action="store_true",
                    help="allow the baseline refresh even when existing "
                         "plan shapes CHANGED (builder-adjudicated)")
    args = ap.parse_args()
    skip = set(filter(None, args.skip.split(",")))

    workdir = args.workdir or tempfile.mkdtemp(prefix="gate_")
    os.makedirs(workdir, exist_ok=True)
    jar = args.jar or snapshot_jar(workdir)
    head = sh(["git", "-C", REPO, "rev-parse", "--short", "HEAD"],
              capture=True).strip()

    result = {"head": head,
              "generated": datetime.datetime.utcnow().isoformat() + "Z",
              "phases": {}}
    red = []

    for phase, sf_dir, with_types in (
            ("sf0.01", args.sf001, True), ("sf0.1", args.sf01, False)):
        if phase in skip:
            result["phases"][phase] = {"skipped": True}
            continue
        print(f"=== {phase}: Verify {sf_dir}", flush=True)
        out_dir = os.path.join(workdir, f"verify_{phase.replace('.', '')}")
        spark_failed = run_verify(jar, sf_dir, out_dir,
                                  args.cpus, args.shuffle)
        n_pass, n_fail, fail_names, _ = check_oracle(sf_dir, out_dir)
        ph = {"passed": n_pass, "failed": n_fail, "fails": fail_names,
              "spark_errors": sorted(spark_failed)}
        if spark_failed:
            red.append(f"{phase}: Spark errors {sorted(spark_failed)}")
        if n_fail:
            red.append(f"{phase}: {n_fail} hash fails {fail_names[:8]}")
        if with_types:
            ok, detail = check_types(sf_dir, out_dir)
            ph["types_ok"] = ok
            if not ok:
                ph["types_detail"] = detail
                red.append(f"{phase}: type gate RED")
        result["phases"][phase] = ph
        print(f"    {n_pass} passed, {n_fail} failed", flush=True)

    stress = {}
    if not {"stress_rel", "stress_dense"} <= skip:
        if args.stress_rel:
            stress["stress_rel"] = args.stress_rel
        else:
            d = os.path.join(workdir, "stress_rel")
            if not os.path.isdir(d):
                sh([sys.executable, os.path.join(REPO, "tools/make_stress.py"),
                    args.sf001, d, "relational"], capture=True)
            stress["stress_rel"] = d
        if args.stress_dense:
            stress["stress_dense"] = args.stress_dense
        else:
            d = os.path.join(workdir, "stress_dense")
            if not os.path.isdir(d):
                sh([sys.executable, os.path.join(REPO, "tools/make_stress.py"),
                    args.sf001, d, "dense"], capture=True)
            stress["stress_dense"] = d

    for phase in ("stress_rel", "stress_dense"):
        if phase in skip or phase not in stress:
            result["phases"][phase] = {"skipped": True}
            continue
        sf_dir = stress[phase]
        print(f"=== {phase}: Verify {sf_dir}", flush=True)
        out_dir = os.path.join(workdir, f"verify_{phase}")
        spark_failed = run_verify(jar, sf_dir, out_dir,
                                  args.cpus, args.shuffle)
        oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
        ph = classify_stress(phase, sf_dir, out_dir, spark_failed, oracle)
        result["phases"][phase] = ph
        for a in ph["asymmetric"]:
            red.append(f"{phase} ASYMMETRIC {a}")
        for v in ph["value_fail"]:
            red.append(f"{phase} VALUE-FAIL {v}")
        print(f"    pass={ph['pass']} loud_both={ph['loud_both']} "
              f"empty_ok={ph['empty_ok']} asym={len(ph['asymmetric'])} "
              f"vfail={len(ph['value_fail'])}", flush=True)

    # bench runs BEFORE plan_shape: the PlanAudit spark-submit itself
    # lifts the 1-min load past the bench's quiet-host guard (measured
    # 3.6 right after it), tripping a spurious RETRY. plan_shape is
    # load-insensitive; bench is the phase that needs the idle host.
    # When the correctness phases ran first, wait out their load tail
    # instead of RETRYing on our own wake.
    if args.bench:
        print(f"=== bench: quiet floor at {args.sf01} "
              f"(reps={args.bench_reps})", flush=True)
        import time
        for _ in range(20):  # up to ~10 min for the 1-min load to decay
            if loadavg1() <= args.load_before_thr:
                break
            print(f"    waiting for load {loadavg1()} <= "
                  f"{args.load_before_thr}", flush=True)
            time.sleep(30)
        ph = run_bench(jar, args.sf01, workdir, args.bench_reps, args.cpus,
                       args.bench_floor, args.bench_out,
                       args.load_before_thr, args.load_after_thr)
        result["phases"]["bench"] = ph
        if ph["verdict"] == "RETRY":
            red.append(f"bench RETRY: {ph['reason']}")
        print(f"    {ph['verdict']}" +
              (f" total={ph.get('total', 0):.1f}s" if "total" in ph else "") +
              (f" vs_floor={ph['vs_floor']['total_ratio']}"
               if "vs_floor" in ph else ""), flush=True)

    plan_fresh = None
    if args.plan_shape:
        print("=== plan_shape: PlanAudit sf0.001", flush=True)
        ph, plan_fresh = run_plan_shape(jar, workdir, args.cpus,
                                        args.plan_shape)
        result["phases"]["plan_shape"] = ph
        if ph["errs"]:
            red.append(f"plan_shape: {len(ph['errs'])} queries errored "
                       f"{ph['errs'][:8]}")
        ch = ph["diff"].get("changed", {})
        print(f"    {ph['audited']} audited, "
              f"+{len(ph['diff'].get('added', []))} "
              f"-{len(ph['diff'].get('removed', []))} "
              f"~{len(ch)} changed", flush=True)
        if ch:  # surfaced loudly but adjudicated by the builder, not RED:
            # intentional optimizations legitimately change shapes
            for k, d in list(ch.items())[:10]:
                print(f"    CHANGED {k}: {d}", flush=True)

    result["red"] = red
    result["disposition"] = "RED" if red else "GREEN"
    # refresh the committed plan-shape baseline only on a blessed gate
    # AND only when no existing shape changed (additions are fine) —
    # a shape regression must be builder-adjudicated via
    # --bless-plan-shape, not silently blessed on its second run
    if plan_fresh and not red and args.plan_shape:
        changed = result["phases"]["plan_shape"]["diff"].get("changed", {})
        if changed and not args.bless_plan_shape:
            print(f"    plan-shape baseline NOT refreshed: "
                  f"{len(changed)} shapes changed — rerun with "
                  f"--bless-plan-shape after adjudicating", flush=True)
        else:
            shutil.copyfile(plan_fresh, args.plan_shape)
    with open(args.out, "w") as f:
        json.dump(result, f, indent=1)
    print(f"\nGATE {result['disposition']} -> {args.out}")
    for r in red:
        print(f"  RED: {r}")
    sys.exit(1 if red else 0)


if __name__ == "__main__":
    main()
