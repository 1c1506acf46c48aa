#!/usr/bin/env python3
"""The repository benchmark: one command, one workload per run.

    python3 perfbench/run.py --workload interactive --seed 1 --seconds 5 --trace 0

Workloads are defined and documented in perfbench/workloads.json. Each run
starts one JVM (`perfbench.Harness`, local[nproc]) that times a closed-loop
client calling `graft.SparkEntry.queries`; this script then checks every result
(DuckDB oracle, plus every repetition against the first) and prints one JSON
line: the end-to-end metrics with `--trace 0`, the per-layer metrics of a
traced run with `--trace 1`. `--overhead` runs both and prints the traced
minus untraced difference of every end-to-end metric.

The first run in a checkout compiles the library and the harness with sbt
(perfbench/build.sbt) and computes the DuckDB oracle answers; later runs
reuse both. Tables are read from $PERFBENCH_DATA (default ~/testdata).
Everything the benchmark writes goes under .bench_build/ in the checkout.
Exit code 0 only when every result is correct.
"""
import argparse
import hashlib
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

import oracle as oracle_mod  # noqa: E402
import stats  # noqa: E402

WORK = os.path.join(ROOT, ".bench_build", "perfbench")
JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
HEAP_MAX = "4g"
RUN_BUDGET_S = 170
# owner files (the module that asked for a job) whose executor work is
# reported on its own; Harness.scala is the caller's collect()
SITES = ["Harness.scala", "Tables.scala", "Dedup.scala", "Pipeline.scala"]


def log(*a):
    print(*a, file=sys.stderr, flush=True)


def cores():
    return len(os.sched_getaffinity(0))


def load_workloads():
    with open(os.path.join(HERE, "workloads.json")) as f:
        return json.load(f)["workloads"]


def sf_dir(sf):
    base = os.environ.get("PERFBENCH_DATA", os.path.expanduser("~/testdata"))
    return os.path.join(base, sf)


# ---------------------------------------------------------------- build

def _sources():
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
                 os.path.join(HERE, "project")):
        for d, _, files in sorted(os.walk(base)):
            if "target" in d.split(os.sep):
                continue
            for f in sorted(files):
                yield os.path.join(d, f)
    yield os.path.join(HERE, "build.sbt")
    yield os.path.join(HERE, "workloads.json")


def _stamp():
    h = hashlib.sha256()
    for p in _sources():
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def build():
    """Compiles the library plus the harness when any source changed and
    computes the oracle answers; returns the runtime classpath and whether
    it built."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        raise SystemExit("perfbench: the library sources (src/main/scala) are missing")
    os.makedirs(WORK, exist_ok=True)
    stamp_file = os.path.join(WORK, "build.stamp")
    cp_file = os.path.join(HERE, "target", "runtime-classpath.txt")
    stamp = _stamp()
    if (os.path.exists(cp_file) and os.path.exists(stamp_file)
            and open(stamp_file).read() == stamp):
        return open(cp_file).read().strip(), False
    log("perfbench: building (sbt writeClasspath)")
    with open(os.path.join(WORK, "build.log"), "w") as out:
        rc = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeClasspath"],
                            cwd=HERE, stdout=out, stderr=subprocess.STDOUT,
                            stdin=subprocess.DEVNULL, timeout=800).returncode
    if rc != 0:
        raise SystemExit(f"perfbench: build failed, see {WORK}/build.log")
    cp = open(cp_file).read().strip()
    prepare_oracles(cp, load_workloads())
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp, True


def java_cmd(cp, out_dir, main):
    tmp = os.path.join(out_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    opens = [x for p in JVM_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    # only a cap: the heap grows on demand, so jvm.peak_rss_mb follows what
    # the workload holds
    return ["java", *opens, f"-Xmx{HEAP_MAX}", f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", cp, main]


def jvm(cp, out_dir, main, args, timeout):
    """Runs one JVM to completion (or kills it at the timeout)."""
    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(out_dir, "jvm.log"), "w") as logf:
        p = subprocess.Popen(java_cmd(cp, out_dir, main) + args, stdout=logf,
                             stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL,
                             cwd=out_dir)
        try:
            return p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            raise SystemExit(f"perfbench: harness timed out, see {out_dir}/jvm.log")


def oracle_sql_dir(sf):
    return os.path.join(WORK, "oracle-sql", sf)


def prepare_oracles(cp, workloads):
    """Writes the oracle SQL of every workload query and computes the DuckDB
    answers not cached yet (after each build)."""
    by_sf = {}
    for wl in workloads.values():
        by_sf.setdefault(wl["sf"], []).extend(wl["queries"])
    for sf, qs in sorted(by_sf.items()):
        out = oracle_sql_dir(sf)
        qs = sorted(set(qs))
        jvm(cp, out, "perfbench.OracleSql", [out, ",".join(qs)], timeout=300)
        sql = oracle_mod.load_sql(out)
        missing = [q for q in qs if q not in sql]
        if missing:
            raise SystemExit(f"perfbench: no oracle SQL for {missing}")
        orc = oracle_mod.Oracle(ROOT, sf_dir(sf), os.path.join(WORK, "oracle"), cores())
        for q in qs:
            orc.want(q, sql[q])


# ---------------------------------------------------------------- one run

def run_once(cp, name, wl, seed, seconds, trace, deadline):
    out = os.path.join(WORK, "runs", f"{name}-seed{seed}-trace{int(trace)}")
    shutil.rmtree(out, ignore_errors=True)
    args = ["--workload", name, "--seed", str(seed), "--seconds", str(seconds),
            "--trace", "1" if trace else "0", "--sf-dir", sf_dir(wl["sf"]), "--out", out,
            "--queries", ",".join(wl["queries"]), "--first", ",".join(wl.get("first", [])),
            "--check-pass", "1" if wl["check_pass"] else "0"]
    rc = jvm(cp, out, "perfbench.Harness", args, timeout=max(10, deadline - time.time()))
    if rc != 0:
        raise SystemExit(f"perfbench: harness exited {rc}, see {out}/jvm.log")
    with open(os.path.join(out, "run.json")) as f:
        run = json.load(f)
    with open(os.path.join(out, "ops.jsonl")) as f:
        ops = [json.loads(line) for line in f]
    spans = []
    if trace:
        with open(os.path.join(out, "spans.jsonl")) as f:
            spans = [json.loads(line) for line in f]
    return out, run, ops, spans


def check(out, wl, run, ops):
    """Counts the operations that failed: raised, returned another result
    than the query's reference (its check-pass result, else its first timed
    one), or belong to a query whose result disagrees with the DuckDB
    oracle. Returns (attempted, failed, problems)."""
    problems = []
    sql = oracle_mod.load_sql(oracle_sql_dir(wl["sf"]))
    orc = oracle_mod.Oracle(ROOT, sf_dir(wl["sf"]), os.path.join(WORK, "oracle"), cores())
    wrong = set()
    for q in run["dumped"]:
        reason = orc.compare(q, sql[q], os.path.join(out, "results", q))
        if reason:
            wrong.add(q)
            problems.append(f"{q}: oracle: {reason}")
    ref = {}
    outcomes = [(q, d if d.startswith("error") else None, d, "check pass")
                for q, d in sorted(run["check_digests"].items())]
    outcomes += [(o["query"], o["error"], o["digest"], f"pass {o['pass']}") for o in ops]
    failed = 0
    for q, err, digest, where in outcomes:
        if err:
            problems.append(f"{q} ({where}): {err}")
        elif ref.setdefault(q, digest) != digest:
            problems.append(f"{q} ({where}): digest {digest} != reference {ref[q]}")
        elif q not in wrong:
            continue
        failed += 1
    never = sorted(set(wl["queries"]) - {q for q, *_ in outcomes})
    problems += [f"{q}: never run" for q in never]
    return len(outcomes) + len(never), failed + len(never), problems


# ---------------------------------------------------------------- metrics

def end_to_end(run, ops):
    lat = [o["latency_ms"] for o in ops if not o["error"]]
    p50 = stats.percentile(lat, 50)
    p95 = stats.percentile(lat, 95)
    # a pass is the sum of its queries' latencies: the harness's own digest
    # and result-dump work between queries is left out
    by_pass = {}
    for o in ops:
        by_pass[o["pass"]] = by_pass.get(o["pass"], 0.0) + o["latency_ms"] / 1e3
    return {
        "setup_s": (run["setup_s"], "s"),
        "latency_p50_ms": (p50["value"], "ms"),
        "latency_p95_ms": (p95["value"], "ms"),
        "pass_s": (statistics.median(by_pass.values()), "s"),
    }, {"latency_n": p50["n"], "p95_beyond": p95["beyond"], "passes": len(by_pass)}


def per_layer(run, spans, attempted, failed):
    kids = stats.children(spans)
    queries = [s for s in spans if s["kind"] == "query"]
    # only the jobs timed queries ran: not the harness's dumps of results
    jobs = [j for q in queries for j in stats.descendants(q["id"], kids, "job")]
    nq = max(1, len(queries))
    breakdown = [stats.query_breakdown(q, kids) for q in queries]

    def jsum(key, js=jobs):
        return sum(j["attrs"].get(key, 0.0) for j in js)

    def per_q(x):
        return x / nq

    m = {
        "driver.build_ms": (per_q(sum(b["phases"].get("build", 0.0) for b in breakdown)), "ms"),
        "driver.plan_ms": (per_q(sum(q["attrs"]["plan_ms"] for q in queries)), "ms"),
        "driver.self_ms": (per_q(sum(b["self_ms"] for b in breakdown)), "ms"),
        "driver.job_ms": (per_q(sum(b["job_ms"] for b in breakdown)), "ms"),
        "codegen.compiles": (per_q(sum(q["attrs"]["codegen_compiles"] for q in queries)), "count"),
        "exec.jobs": (per_q(len(jobs)), "count"),
        "exec.stages": (per_q(jsum("stages")), "count"),
        "exec.tasks": (per_q(jsum("tasks")), "count"),
        # mean over tasks of (task launch - its stage's submission)
        "sched.task_wait_ms": (jsum("task_wait_ms") / max(1.0, jsum("tasks")), "ms"),
        "exec.run_ms": (per_q(jsum("run_ms")), "ms"),
        "exec.cpu_ms": (per_q(jsum("cpu_ms")), "ms"),
        "exec.gc_ms": (per_q(jsum("gc_ms")), "ms"),
        "shuffle.write_bytes": (per_q(jsum("shuffle_write_bytes")), "bytes"),
        "shuffle.read_bytes": (per_q(jsum("shuffle_read_bytes")), "bytes"),
        "shuffle.fetch_wait_ms": (per_q(jsum("fetch_wait_ms")), "ms"),
        "spill.bytes": (per_q(jsum("spill_bytes")), "bytes"),
        "scan.bytes": (per_q(jsum("scan_bytes")), "bytes"),
        "scan.rows": (per_q(jsum("scan_rows")), "count"),
    }
    ck = [j for j in jobs if j["attrs"]["site"] == "Checkpoints.scala"]
    passes = run["passes"]
    hits = sum(p["stagecache_hits"] for p in passes)
    misses = sum(p["stagecache_misses"] for p in passes)
    m.update({
        "ckpt.jobs": (per_q(len(ck)), "count"),
        "ckpt.ms": (per_q(stats.union_ms([(j["start_ms"], j["end_ms"]) for j in ck])), "ms"),
        "ckpt.bytes": (statistics.median(p.get("ckpt_bytes", 0) for p in passes), "bytes"),
        "ckpt.residual_bytes": (statistics.median(p.get("ckpt_residual_bytes", 0) for p in passes), "bytes"),
        "stagecache.hits": (per_q(hits), "count"),
        "stagecache.misses": (per_q(misses), "count"),
        "stagecache.hit_ratio": (hits / (hits + misses) if hits + misses else 0.0, "ratio"),
        "stagecache.residual_entries": (statistics.median(p["stagecache_residual_entries"] for p in passes), "count"),
        "leak.persisted_rdds": (statistics.median(p["persisted_rdds"] for p in passes), "count"),
        "trace.cover_min": (min((b["cover"] for b in breakdown), default=1.0), "ratio"),
        "trace.outside_ms": (per_q(sum(b["outside_ms"] for b in breakdown)), "ms"),
        "failed_ratio": (failed / attempted, "ratio"),
        "jvm.heap_live_peak_mb": (run["heap_live_peak_mb"], "MiB"),
        "jvm.peak_rss_mb": (run["peak_rss_mb"], "MiB"),
    })
    for site in SITES:
        sj = [j for j in jobs if j["attrs"]["owner"] == site]
        key = site.replace(".scala", "")
        m[f"exec.cpu_ms.{key}"] = (per_q(jsum("cpu_ms", sj)), "ms")
        m[f"exec.run_ms.{key}"] = (per_q(jsum("run_ms", sj)), "ms")
        m[f"exec.jobs.{key}"] = (per_q(len(sj)), "count")
    sites = {}
    for j in jobs:
        key = j["attrs"]["site"] + "/" + j["attrs"]["owner"]
        sites[key] = sites.get(key, 0) + 1
    return m, {"sites": sites, "worst_cover": sorted(
        ((round(b["cover"], 4), q["name"]) for b, q in zip(breakdown, queries)))[:3]}


def measure(cp, name, wl, seed, seconds, trace, deadline):
    out, run, ops, spans = run_once(cp, name, wl, seed, seconds, trace, deadline)
    attempted, failed, problems = check(out, wl, run, ops)
    for p in problems[:20]:
        log(f"perfbench: FAIL {p}")
    e2e, e2e_info = end_to_end(run, ops)
    layers, layer_info = per_layer(run, spans, attempted, failed) if trace else ({}, {})
    summary = {"workload": name, "seed": seed, "trace": trace, "attempted": attempted,
               "failed": failed, "problems": problems, "end_to_end": e2e,
               "end_to_end_info": e2e_info, "per_layer": layers, "per_layer_info": layer_info,
               "check_pass_s": run["check_pass_s"],
               "timed_wall_s": run["timed_wall_s"], "passes": run["passes"]}
    with open(os.path.join(out, "summary.json"), "w") as f:
        json.dump(summary, f, indent=1)
    # keep the small artifacts of the run, drop bulky intermediates
    for d in ("results", "checkpoints", "spark-local", "tmp", "warehouse"):
        shutil.rmtree(os.path.join(out, d), ignore_errors=True)
    return summary


def result_line(summary, trace):
    metrics = summary["per_layer"] if trace else summary["end_to_end"]
    return json.dumps({
        "correct": summary["failed"] == 0,
        "attempted": summary["attempted"],
        "failed": summary["failed"],
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    })


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--overhead", action="store_true",
                    help="run untraced and traced; print the traced-minus-untraced end-to-end table")
    a = ap.parse_args()
    start = time.time()
    workloads = load_workloads()
    if a.workload not in workloads:
        raise SystemExit(f"perfbench: unknown workload {a.workload!r}; have {sorted(workloads)}")
    cp, fresh = build()
    if fresh:
        # the first run of a checkout builds; its own run gets a full budget
        start = time.time()
    wl = workloads[a.workload]
    if a.overhead:
        base = measure(cp, a.workload, wl, a.seed, a.seconds, False, time.time() + RUN_BUDGET_S)
        traced = measure(cp, a.workload, wl, a.seed, a.seconds, True, time.time() + RUN_BUDGET_S)
        for k, (v, u) in base["end_to_end"].items():
            t = traced["end_to_end"][k][0]
            print(f"{k:16s} untraced {v:12.3f} traced {t:12.3f} overhead {t - v:+10.3f} {u}")
        return 0 if base["failed"] == 0 and traced["failed"] == 0 else 1
    s = measure(cp, a.workload, wl, a.seed, a.seconds, bool(a.trace), start + RUN_BUDGET_S)
    log(f"perfbench: {a.workload} seed {a.seed}: {json.dumps(s['end_to_end'])} "
        f"{json.dumps(s['end_to_end_info'])} check_pass_s={s['check_pass_s']:.1f} "
        f"timed_wall_s={s['timed_wall_s']:.1f} total_s={time.time() - start:.1f}")
    print(result_line(s, bool(a.trace)), flush=True)
    return 0 if s["failed"] == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
