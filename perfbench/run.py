"""graft benchmark: one run of one workload.

    python3 perfbench/run.py --workload hourly_etl --seed 1 --seconds 10 --trace 0

Builds the engine and the harness from source (cached), generates the
workload's inputs from the seed, runs the benchmark JVM (one client thread,
`GraftSession.local(nproc)`), checks the outputs, and prints one JSON
object as the last line of stdout: the end-to-end metrics with `--trace 0`,
the per-layer metrics with `--trace 1`. The full record (every metric,
tails with their percentile and sample count, run metadata) is printed on
the line before it and kept under `perfbench/.results/`.
"""
import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import build  # noqa: E402
import checks  # noqa: E402
import gen  # noqa: E402

QUERY_KEYS = ["q1_pricing_summary", "q10_star_join", "q11_topk_per_group", "q12_rollup",
              "q12b_cube", "q13_sessionize", "q14_asof_join", "q15_range_join",
              "q16_window_running", "q17_percentile", "q18_semi_anti", "q19_pivot",
              "q20_count_distinct", "q21_setops", "q24_pit_join"]
# Nominal pass length in seconds. A run makes round(seconds / pass) whole
# passes (at least 1; at least 3 when traced), so every run does the same
# work whatever the seed or the host's speed; its wall time follows the
# program's speed (about 15 s for hourly_etl and 27 s for analytics_read at
# --seconds 10 on 4 cores when the benchmark was defined).
NOMINAL_PASS_S = {"hourly_etl": 5.0, "analytics_read": 20.0}
# untimed warm-up cycles before hourly_etl's first pass (HourlyEtl.WarmupHours)
WARMUP_HOURS = 1
JVM_HEAP = "3g"
DEADLINE_S = 170
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def tail(values):
    """The highest of p99.9/p99/p95/p90/p75/p50 with at least ten samples
    beyond it: (value, percentile, samples), or (None, None, n)."""
    n = len(values)
    for p in (99.9, 99.0, 95.0, 90.0, 75.0, 50.0):
        if n * (1 - p / 100) >= 10:
            return statistics.quantiles(values, n=1000, method="inclusive")[int(p * 10) - 1], p, n
    return None, None, n


def med(values):
    return statistics.median(values) if values else None


def git_commit():
    """HEAD of the checkout, or None outside a git work tree (the source
    hash in the record identifies the build either way)."""
    env = dict(os.environ, GIT_CEILING_DIRECTORIES=os.path.dirname(ROOT))
    try:
        r = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True,
                           text=True, timeout=10, env=env)
        return r.stdout.strip() or None if r.returncode == 0 else None
    except (OSError, subprocess.SubprocessError):
        return None


def run_jvm(classes, args, work, deadline):
    jars = os.path.join(build.spark_jars(), "*")
    cmd = (["java", "-XX:-UsePerfData", f"-Xmx{JVM_HEAP}", "-Xss8m",
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
           + ["-cp", classes + os.pathsep + jars, "graftbench.Main"] + args)
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "local"),
               SPARK_GRAFT_CPUS=str(os.cpu_count()))
    with open(os.path.join(work, "jvm.log"), "w") as log:
        proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=log, stderr=subprocess.STDOUT)
        try:
            rc = proc.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            raise SystemExit("perfbench: benchmark JVM ran past the deadline")
        finally:  # also on SIGTERM: never leave the JVM running
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    if rc != 0:
        with open(os.path.join(work, "jvm.log")) as f:
            sys.stderr.write(f.read()[-3000:])
        raise SystemExit(f"perfbench: benchmark JVM exited with {rc}")
    with open(os.path.join(work, "result.json")) as f:
        return json.load(f)


def end_to_end(r, bad_ops):
    """Untraced metrics: the contract set plus the workload's own."""
    window = [o for o in r["ops"] if o[3] >= 0]
    good = [o for o in window if o[7] and o[0] not in bad_ops]
    secs = [o[6] for o in good]
    passes = {}
    for o in window:
        passes.setdefault(o[3], []).append(o)
    cycle = [(max(o[5] for o in ops) - min(o[4] for o in ops)) / 1000 for ops in passes.values()]
    m = {
        "setup_s": ((r["window_start_ms"] - r["jvm_start_ms"]) / 1000, "s"),
        "ops_per_s": (len(good) / r["window_s"], "1/s"),
        "op_p50_s": (med(secs), "s"),
        "cycle_p50_s": (med(cycle), "s"),
        "heap_live_mb": (r["meta"]["heap_live_mb"], "MB"),
    }
    detail = {"fail_ratio": ((len(window) - len(good)) / max(1, len(window)), "ratio"),
              "peak_rss_mb": (r["meta"]["peak_rss_mb"], "MB")}
    tails = {}
    for cls in ("write", "read"):
        v = [o[6] for o in good if o[2] == cls]
        if v:
            detail[f"{cls}_p50_s"] = (med(v), "s")
            tails[f"{cls}_tail_s"] = tail(v)
    if r["workload"] == "hourly_etl":
        tails["cycle_tail_s"] = tail(cycle)
        detail["write_amp"] = (r["bytes_written"] / r["bytes_staged"], "ratio")
        detail["space_amp"] = (r["bytes_under_roots"] / r["bytes_live"], "ratio")
    tails["op_tail_s"] = tail(secs)
    for name, (v, p, n) in tails.items():
        detail[name] = (v, "s", {"percentile": p, "samples": n})
    return m, detail


def union(intervals):
    total, end = 0, None
    for s, e in sorted(intervals):
        if end is None or s > end:
            total += e - s
            end = e
        elif e > end:
            total += e - end
            end = e
    return total


def per_layer(r):
    """Traced metrics: per traced operation unless the name says otherwise."""
    ev = r["trace_events"]
    ops = [o for o in r["ops"] if o[3] >= 0 and o[8] and o[7]]
    n = max(1, len(ops))
    jobs = ev["jobs"]
    tasks = ev["tasks"]
    busy = execs = njobs = ntasks = shuffle = 0
    ana = opt = plan = 0
    for o in ops:
        s, e = o[4], o[5]
        mine = [(max(js, s), min(je, e)) for _, js, je in jobs if s <= js <= e]
        njobs += len(mine)
        b = union(mine) / 1000
        busy += b
        ntasks += sum(1 for t in tasks if s <= t[3] <= e)
        shuffle += sum(t[4] for t in tasks if s <= t[3] <= e)
        execs += sum(1 for t in ev["executions"] if s <= t <= e)
        for ps, a, op_, pl in ev["phases"]:
            if s <= ps <= e:
                ana, opt, plan = ana + a, opt + op_, plan + pl
    gap = sum(o[6] for o in ops) - busy
    stages = {}
    for st, at, launch, fin, _, _ in tasks:
        stages.setdefault((st, at), []).append(fin - launch)
    skew = 0.0
    if stages:
        hot = max(stages.values(), key=sum)
        skew = max(hot) / max(1.0, statistics.median(hot))
    span_s = {}
    span_n = {}
    for sid, parent, op, name, s, e, secs in ev["spans"]:
        span_s[name] = span_s.get(name, 0.0) + secs
        span_n[name] = span_n.get(name, 0) + 1
    facts = {}
    for op, name, v in ev["facts"]:
        facts.setdefault(name, []).append(v)
    considered, kept = sum(facts.get("files_considered", [])), sum(facts.get("files_kept", []))
    lookups = max(1, len(facts.get("files_considered", [])))
    m = {
        "spark.executions": (execs / n, "count"),
        "spark.jobs": (njobs / n, "count"),
        "spark.tasks": (ntasks / n, "count"),
        "spark.job_busy_s": (busy / n, "s"),
        "spark.driver_gap_s": (gap / n, "s"),
        "spark.shuffle_bytes": (shuffle / n, "bytes"),
        "spark.hot_stage_skew": (skew, "ratio"),
        "catalyst.analysis_s": (ana / 1000 / n, "s"),
        "catalyst.optimization_s": (opt / 1000 / n, "s"),
        "catalyst.planning_s": (plan / 1000 / n, "s"),
        "plans.sql_s": (span_s.get("plans.sql", 0.0) / n, "s"),
        "sources.commit_s": (span_s.get("sources.commit", 0.0) / n, "s"),
        "sources.commits": (sum(facts.get("commits", [])) / n, "count"),
        "sources.mv_refresh_s": (span_s.get("sources.mv_refresh", 0.0) / n, "s"),
        "sources.read_s": (span_s.get("sources.read", 0.0) / n, "s"),
        "sources.files_considered": (considered / lookups, "count"),
        "sources.files_kept": (kept / lookups, "count"),
        "sources.prune_ratio": (1 - kept / considered if considered else 0.0, "ratio"),
        "sources.bytes_written": (r.get("bytes_written", 0), "bytes"),
        "sources.bytes_live": (r.get("bytes_live", 0), "bytes"),
        "sources.log_versions": (r.get("log_versions", 0), "count"),
        "sources.maintenance_s": (span_s.get("sources.maintenance", 0.0) / n, "s"),
        "sources.maintenance_bytes_rewritten":
            (sum(facts.get("maintenance_bytes_rewritten", [])), "bytes"),
    }
    for k in QUERY_KEYS:
        c = span_n.get(f"queries.{k}", 0)
        m[f"queries.{k}_s"] = (span_s.get(f"queries.{k}", 0.0) / c if c else 0.0, "s")
    # traced vs untraced throughput on the traced operation mix
    untraced = {}
    for o in r["ops"]:  # pass 0 warms up and is left out
        if o[3] >= 1 and o[7] and not o[8]:
            untraced.setdefault(o[1], []).append(o[6])
    both = [o for o in ops if o[1] in untraced]
    t_traced = sum(o[6] for o in both)
    t_untraced = sum(statistics.mean(untraced[o[1]]) for o in both)
    m["trace_overhead"] = (t_untraced / t_traced if t_traced else 0.0, "ratio")
    return m


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(NOMINAL_PASS_S))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    classes, source_hash = build.build()
    deadline = time.time() + DEADLINE_S

    t0 = time.time()
    base = os.path.join(HERE, ".work")
    shutil.rmtree(base, ignore_errors=True)
    work = os.path.join(base, a.workload)
    data = os.path.join(work, "data")
    for d in (data, os.path.join(work, "tmp"), os.path.join(work, "local")):
        os.makedirs(d)
    passes = max(3 if a.trace else 1, round(a.seconds / NOMINAL_PASS_S[a.workload]))
    gen.main(data, a.seed, a.workload, hours=WARMUP_HOURS + passes)
    t_jvm = time.time()
    args = ["--workload", a.workload, "--seed", str(a.seed), "--passes", str(passes),
            "--trace", str(a.trace), "--data", data, "--work", work]
    r = run_jvm(classes, args, work, deadline)
    t_checks = time.time()

    check = checks.check_hourly if a.workload == "hourly_etl" else checks.check_analytics
    bad, msgs = check(r, data, work)
    window_ids = {o[0] for o in r["ops"] if o[3] >= 0}
    bad_ops = set(bad) & window_ids
    attempted = len(window_ids)
    failed = len({o[0] for o in r["ops"] if o[3] >= 0 and not o[7]} | bad_ops)
    correct = not bad and not r["errors"] and failed == 0

    print(f"[perfbench] inputs {t_jvm - t0:.1f} s, jvm {t_checks - t_jvm:.1f} s, "
          f"checks {time.time() - t_checks:.1f} s", file=sys.stderr)
    e2e, detail = end_to_end(r, bad_ops)
    metrics = per_layer(r) if a.trace else e2e
    record = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
        "correct": correct, "attempted": attempted, "failed": failed,
        "check_messages": msgs[:20], "errors": r["errors"],
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        # a traced run's timings mix traced and untraced passes
        "untraced": None if a.trace else {
            k: {"value": v[0], "unit": v[1], **(v[2] if len(v) > 2 else {})}
            for k, v in {**e2e, **detail}.items()},
        "passes": r["passes"], "window_s": r["window_s"],
        "ops": [[o[1], o[3], round(o[6], 4), o[7] and o[0] not in bad_ops]
                for o in r["ops"] if o[3] >= 0],
        "meta": {**r["meta"], "seed": a.seed, "git_commit": git_commit(),
                 "source_hash": source_hash},
    }
    os.makedirs(os.path.join(HERE, ".results"), exist_ok=True)
    name = f"{a.workload}-seed{a.seed}-trace{a.trace}.json"
    with open(os.path.join(HERE, ".results", name), "w") as f:
        json.dump(record, f, indent=1)
    # keep only small files of the run; the tables and inputs go
    for d in ("data", "tables", "local", "tmp", "check", "staging"):
        shutil.rmtree(os.path.join(work, d), ignore_errors=True)
    print(json.dumps(record))
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": record["metrics"]}))


if __name__ == "__main__":
    main()
