#!/usr/bin/env python3
"""The repo's benchmark: one workload of registry queries, run in one JVM
on a local Spark session, checked against the DuckDB oracle.

    python3 perfbench/run.py --workload relational --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. It builds the library and the harness
(perfbench/build.sbt) when their sources changed, runs the workload (see
perfbench/workloads.json) and prints one JSON object as the last line of
stdout: the BENCHMARK.json end_to_end metrics with --trace 0, or its
per_layer metrics with --trace 1. A per-query report, and with --trace 1 a
span file, go to .bench_build/perfbench/. Exit code 0 only with a result.
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
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import benchmath  # noqa: E402

RUN_LIMIT_S = 170
K = 3            # task slots: one core of a 4-core machine stays with planning, JIT and GC
HEAP = "4g"
# C1 only. A run's JVM lives about a minute, too short for C2 to finish.
# Measured on a 4-core VM with C2 on: warm passes still fell by a quarter
# from first to last, background compiles took about 27 s of CPU during a
# 15 s cold pass, and the warm metrics spread by 0.3 (IQR/median) over ten
# seeds. With C1 only the warm passes were as fast and flat, and the spread
# fell to about 0.13.
JIT = "-XX:TieredStopAtLevel=1"
SETUP_PROBES = 1  # JVMs that only set up, beside the run's own JVM
WORK = os.path.join(ROOT, ".bench_build", "perfbench")
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(msg)
    sys.exit(code)


def source_digest():
    """Hash of every source the build compiles, to know when to rebuild."""
    h = hashlib.sha256()
    dirs = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
            os.path.join(HERE, "project")]
    files = [os.path.join(HERE, "build.sbt")]
    for d in dirs:
        for base, subdirs, names in os.walk(d):
            subdirs[:] = sorted(s for s in subdirs if s != "target")
            files += [os.path.join(base, n) for n in sorted(names)]
    for p in files:
        if os.path.isfile(p):
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()[:16]


def build():
    """The runtime classpath, compiling with sbt when the sources changed."""
    stamp = os.path.join(WORK, "classpath.json")
    digest = source_digest()
    if os.path.exists(stamp):
        with open(stamp) as f:
            built = json.load(f)
        if built["sources"] == digest:
            return built["classpath"], digest
    log("building the library and the harness (sbt compile)")
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    proc = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                           "export Runtime/fullClasspath"],
                          cwd=HERE, env=env, stdin=subprocess.DEVNULL,
                          capture_output=True, text=True, timeout=840)
    lines = [l for l in proc.stdout.splitlines() if l.startswith("/") and ".jar" in l]
    if proc.returncode != 0 or not lines:
        sys.stderr.write(proc.stdout[-4000:] + proc.stderr[-4000:])
        fail("build failed")
    os.makedirs(WORK, exist_ok=True)
    with open(stamp, "w") as f:
        json.dump({"sources": digest, "classpath": lines[-1]}, f)
    return lines[-1], digest


def loadavg():
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def git_commit():
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                             text=True, timeout=10)
        return out.stdout.strip() if out.returncode == 0 else None
    except (OSError, subprocess.SubprocessError):
        return None


_children = []


def _stop_children(signum, _frame):
    for proc in _children:
        proc.kill()
        proc.wait()
    sys.exit(128 + signum)


def jvm(name, classpath, run_dir, args, deadline):
    """Run one harness JVM to completion; its result dict, or None."""
    out = os.path.join(run_dir, f"{name}.json")
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += [JIT, f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC", "-cp", classpath, "perfbench.Harness",
            f"out={out}", f"launch_ms={time.time() * 1000:.3f}"]
    cmd += [f"{k}={v}" for k, v in args.items()]
    with open(os.path.join(run_dir, "jvm.log"), "a") as errlog:
        proc = subprocess.Popen(cmd, cwd=run_dir, stdin=subprocess.DEVNULL,
                                stdout=errlog, stderr=errlog)
        _children.append(proc)
        try:
            proc.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            log("the harness JVM ran past the time limit and was stopped")
            return None
        finally:
            _children.remove(proc)
    if proc.returncode != 0 or not os.path.exists(out):
        log(f"the harness JVM exited with code {proc.returncode}; see {run_dir}/jvm.log")
        return None
    with open(out) as f:
        return json.load(f)


def end_to_end(res, setups, verdicts):
    """The end_to_end metrics of one run, plus the sample counts behind them."""
    passes = res["passes"]
    cold = [p for p in passes if p["kind"] == "cold"][0]
    warm = [p for p in passes if p["kind"] == "warm" and not p["traced"]]
    lat = [(e["executed"] - e["start"]) / 1000 for e in res["executions"]
           if e["kind"] == "warm" and not e["traced"] and e["ok"]]
    attempted = len(res["executions"])
    failed = sum(1 for e in res["executions"] if not e["ok"] or verdicts.get(e["query"]))
    p75 = benchmath.percentile(lat, 0.75)
    metrics = {
        "setup_s": (statistics.median(setups), "s"),
        "cold_pass_s": ((cold["end"] - cold["start"]) / 1000, "s"),
        "warm_pass_s": (statistics.median([(p["end"] - p["start"]) / 1000 for p in warm]), "s"),
        "query_p50_s": (benchmath.percentile(lat, 0.5), "s"),
        "query_p75_s": (p75, "s"),
        "ok_rate": ((attempted - failed) / attempted, "ratio"),
    }
    counts = {"setup_samples": len(setups), "warm_passes": len(warm),
              "query_samples": len(lat), "above_p75": benchmath.count_above(lat, p75)}
    return metrics, counts, attempted, failed


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    t_start = time.time()
    for sig in (signal.SIGTERM, signal.SIGINT):
        signal.signal(sig, _stop_children)

    bench_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(bench_path):
        fail("BENCHMARK.json not found at the checkout root")
    with open(bench_path) as f:
        bench = json.load(f)
    with open(os.path.join(HERE, "workloads.json")) as f:
        cfg = json.load(f)
    if a.workload not in cfg["workloads"]:
        fail(f"unknown workload {a.workload!r}; known: {', '.join(cfg['workloads'])}")
    wl = cfg["workloads"][a.workload]
    if not os.path.exists(os.path.join(ROOT, "src", "main", "scala", "graft", "SparkEntry.scala")):
        fail("the library sources (src/main/scala/graft) are not in this checkout")
    import oracle  # shares the canon of tools/localcheck.py
    data = os.environ.get("SPARK_GRAFT_SF_DIR", os.path.expanduser("~/testdata/sf0.1"))
    for t in oracle.TABLES:
        if not os.path.exists(os.path.join(data, f"{t}.parquet")):
            fail(f"input table {t}.parquet not found under {data}")
    if shutil.which("java") is None or shutil.which("sbt") is None:
        fail("java and sbt are needed on PATH")

    classpath, sources = build()
    nproc = os.cpu_count() or 1
    k = min(K, nproc)
    load_before = loadavg()
    run_dir = os.path.join(WORK, f"run-{a.workload}-{a.seed}-{a.trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    deadline = t_start + RUN_LIMIT_S
    try:
        setups, creates = [], []
        for i in range(SETUP_PROBES):
            r = jvm(f"probe{i}", classpath, run_dir, {"mode": "setup", "k": k}, deadline)
            if r is None:
                fail("a setup probe failed", 1)
            setups.append(r["setup_s"])
            creates.append(r["session_create_s"])
        res = jvm("run", classpath, run_dir, {
            "mode": "run", "k": k, "data": data, "queries": ",".join(wl["queries"]),
            "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
            "dump": os.path.join(run_dir, "dump")}, deadline)
        if res is None:
            fail("the workload run failed", 1)
        setups.append(res["setup_s"])
        creates.append(res["session_create_s"])
        load_after = loadavg()
        t_jvms = time.time()

        sqls = {n: s for n, s in res["oracle_sql"].items() if s is not None}
        expected = oracle.oracle_digests(data, sqls, os.path.join(WORK, "oracle"))
        verdicts = {}
        for q in res["queries"]:
            v = res["verify"][q]
            if not v["ok"]:
                verdicts[q] = "output dump failed: " + v["error"]
            elif q not in expected:
                verdicts[q] = "no oracle SQL"
            else:
                verdicts[q] = oracle.check(expected[q], oracle.spark_digest(
                    os.path.join(run_dir, "dump", q)))
        verdicts = {q: v for q, v in verdicts.items() if v}
        for q, v in sorted(verdicts.items()):
            log(f"{q}: oracle mismatch: {v}")
    finally:
        shutil.rmtree(os.path.join(run_dir, "tmp"), ignore_errors=True)
        shutil.rmtree(os.path.join(run_dir, "dump"), ignore_errors=True)

    e2e, counts, attempted, failed = end_to_end(res, setups, verdicts)
    report = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
        "stamp": {"nproc": nproc, "k": k, "loadavg_before": load_before,
                  "loadavg_after": load_after, "git_commit": git_commit(),
                  "source_digest": sources, "java": res["java_version"],
                  "spark": res["spark_version"], "data": data, "heap": HEAP, "jit": JIT,
                  "confs": res["confs"]},
        "plan_fp": {q: v.get("plan_fp") for q, v in res["verify"].items()},
        "oracle_mismatches": verdicts, "counts": counts,
        "passes": [{"kind": p["kind"], "traced": p["traced"],
                    "seconds": (p["end"] - p["start"]) / 1000,
                    "live_heap_mb": p["live_heap_bytes"] / benchmath.MB,
                    "order": p["order"]} for p in res["passes"]],
        "end_to_end": {n: v for n, (v, _) in e2e.items()},
        "unattributed_jobs": res["unattributed_jobs"],
        "wall_s": {"until_jvms_done": t_jvms - t_start, "verify_in_jvm": res["verify_s"],
                   "oracle_compare": time.time() - t_jvms},
    }
    if a.trace:
        metrics, per_query, cold_build, spans = trace_metrics(res, k, creates, bench)
        report["per_query"] = per_query
        report["per_query_cold_build"] = cold_build
        span_path = os.path.join(WORK, f"spans-{a.workload}-seed{a.seed}.json")
        with open(span_path, "w") as f:
            json.dump(spans, f)
        report["span_file"] = span_path
    else:
        metrics = {n: {"value": v, "unit": u} for n, (v, u) in e2e.items()}
    report["metrics"] = metrics
    problems = benchmath.validate_metrics(metrics, bench, a.trace)
    if problems:
        fail("metrics do not match BENCHMARK.json: " + "; ".join(problems), 1)
    report_path = os.path.join(WORK, f"report-{a.workload}-seed{a.seed}-trace{a.trace}.json")
    with open(report_path, "w") as f:
        json.dump(report, f, indent=1)
    shutil.rmtree(run_dir, ignore_errors=True)
    print(f"workload {a.workload} seed {a.seed}: k={k} of nproc={nproc}, "
          f"{counts['query_samples']} warm query samples ({counts['above_p75']} above p75), "
          f"{counts['warm_passes']} warm passes, {counts['setup_samples']} setups; "
          f"report {os.path.relpath(report_path, ROOT)}")
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


def trace_metrics(res, k, creates, bench):
    """Per-layer metrics of a traced run, the per-query table, the spans."""
    traced = [e for e in res["executions"] if e["traced"] and e["ok"]]
    per_query, cold_build = {}, {}
    for q in res["queries"]:
        warm = [benchmath.layer_figures(e, k) for e in traced
                if e["query"] == q and e["kind"] == "warm"]
        if not warm:
            continue
        row = {m: statistics.median([f[m] for f in warm]) for m in warm[0]}
        cold = [benchmath.layer_figures(e, k) for e in traced
                if e["query"] == q and e["kind"] == "cold"]
        for m in benchmath.COLD_FIGURES:
            row[m] = cold[0][m] if cold else 0
        per_query[q] = row
        # build work done once per JVM (build-once stores) shows only here
        if cold:
            cold_build[q] = {m: v for m, v in cold[0].items()
                             if m.endswith((".build_s", ".build_jobs")) or m == "exec.jobs"}
    if not per_query:
        fail("no traced warm execution succeeded", 1)
    sums = {m: sum(r[m] for r in per_query.values()) for m in next(iter(per_query.values()))}
    sums["exec.slot_busy"] = (sums["exec.task_run_s"] / (sums["exec.wall_s"] * k)
                              if sums["exec.wall_s"] > 0 else 0.0)
    sums["core.session_create_s"] = statistics.median(creates)
    sums["jvm.peak_rss_mb"] = res["peak_rss_kb"] / 1024
    warm = [p for p in res["passes"] if p["kind"] == "warm"]
    sums["jvm.live_heap_mb"] = statistics.median([p["live_heap_bytes"] / benchmath.MB for p in warm])
    pass_s = {t: statistics.median([(p["end"] - p["start"]) / 1000 for p in warm if p["traced"] == t])
              for t in (True, False)}
    sums["trace.overhead_s"] = pass_s[True] - pass_s[False]
    units = {m["name"]: m["unit"] for m in bench["per_layer"]}
    metrics = {n: {"value": sums[n], "unit": u} for n, u in units.items() if n in sums}
    spans = []
    for e in traced:
        s = benchmath.spans_of(e)
        selfs = benchmath.self_times(s)
        for sp in s:
            sp["self"] = selfs[sp["id"]]
        spans += s
    return metrics, per_query, cold_build, spans


if __name__ == "__main__":
    main()
