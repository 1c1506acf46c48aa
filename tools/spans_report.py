#!/usr/bin/env python3
"""Per-query job breakdown of a traced perfbench run.

    python3 tools/spans_report.py .bench_build/perfbench/runs/curate-seed7-trace1
    python3 tools/spans_report.py <run dir> --timeline x105_curation_lines

Reads the run's `spans.jsonl` (written by `perfbench/run.py ... --trace 1`)
and prints, for every timed query: its latency, its driver-only time (the
part of the query no Spark job covers), and its jobs grouped by
(site, owner) — the file that started each job and the file that asked for
it — with job count, wall (union of the jobs' intervals), executor run and
CPU time, tasks, and mean task wait (task launch minus stage submission).

With `--timeline <query>`, prints instead every run of that one query
with its jobs in start order, one row each: start offset from the query's
start, wall, tasks, executor run and CPU time, and owner.
"""
import json
import os
import sys

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)),
                                "..", "perfbench"))
import stats  # noqa: E402


def load(run_dir):
    with open(os.path.join(run_dir, "spans.jsonl")) as f:
        return [json.loads(line) for line in f if line.strip()]


def report(spans):
    """One dict per timed query, in start order."""
    kids = stats.children(spans)
    out = []
    for q in sorted((s for s in spans if s["kind"] == "query"),
                    key=lambda s: s["start_ms"]):
        b = stats.query_breakdown(q, kids)
        groups = {}
        for j in stats.descendants(q["id"], kids, "job"):
            a = j["attrs"]
            groups.setdefault((a.get("site", "other"), a.get("owner", "other")),
                              []).append(j)
        rows = []
        for (site, owner), js in groups.items():
            def total(k):
                return sum(j["attrs"].get(k, 0.0) for j in js)
            tasks = total("tasks")
            rows.append({
                "site": site, "owner": owner, "jobs": len(js),
                "wall_ms": stats.union_ms([(j["start_ms"], j["end_ms"]) for j in js],
                                          q["start_ms"], q["end_ms"]),
                "run_ms": total("run_ms"), "cpu_ms": total("cpu_ms"),
                "tasks": tasks,
                "task_wait_ms": total("task_wait_ms") / tasks if tasks else 0.0,
            })
        rows.sort(key=lambda r: -r["wall_ms"])
        out.append({"query": q["name"], "pass": q["attrs"].get("pass"),
                    "latency_ms": b["duration_ms"],
                    "driver_only_ms": b["duration_ms"] - b["job_ms"],
                    "jobs": rows})
    return out


def render(queries):
    lines = []
    for q in queries:
        lines.append(f"{q['query']} (pass {q['pass']}): latency {q['latency_ms']:.0f} ms, "
                     f"driver-only {q['driver_only_ms']:.0f} ms")
        lines.append(f"  {'site/owner':40s} {'jobs':>5s} {'wall_ms':>9s} {'run_ms':>9s} "
                     f"{'cpu_ms':>9s} {'tasks':>6s} {'wait_ms':>8s}")
        for r in q["jobs"]:
            lines.append(f"  {r['site'] + '/' + r['owner']:40s} {r['jobs']:5d} "
                         f"{r['wall_ms']:9.0f} {r['run_ms']:9.0f} {r['cpu_ms']:9.0f} "
                         f"{r['tasks']:6.0f} {r['task_wait_ms']:8.1f}")
    return "\n".join(lines)


def timeline(spans, name):
    """One dict per run of query `name`, each with its jobs in start order."""
    kids = stats.children(spans)
    out = []
    for q in sorted((s for s in spans if s["kind"] == "query" and s["name"] == name),
                    key=lambda s: s["start_ms"]):
        jobs = sorted(stats.descendants(q["id"], kids, "job"),
                      key=lambda j: (j["start_ms"], j["id"]))
        out.append({"query": name, "pass": q["attrs"].get("pass"),
                    "latency_ms": q["end_ms"] - q["start_ms"],
                    "jobs": [{"start_ms": j["start_ms"] - q["start_ms"],
                              "wall_ms": j["end_ms"] - j["start_ms"],
                              "tasks": j["attrs"].get("tasks", 0.0),
                              "run_ms": j["attrs"].get("run_ms", 0.0),
                              "cpu_ms": j["attrs"].get("cpu_ms", 0.0),
                              "owner": j["attrs"].get("owner", "other")}
                             for j in jobs]})
    return out


def render_timeline(runs):
    lines = []
    for q in runs:
        lines.append(f"{q['query']} (pass {q['pass']}): latency {q['latency_ms']:.0f} ms")
        lines.append(f"  {'start_ms':>9s} {'wall_ms':>9s} {'tasks':>6s} {'run_ms':>9s} "
                     f"{'cpu_ms':>9s}  owner")
        for j in q["jobs"]:
            lines.append(f"  {j['start_ms']:9.0f} {j['wall_ms']:9.0f} {j['tasks']:6.0f} "
                         f"{j['run_ms']:9.0f} {j['cpu_ms']:9.0f}  {j['owner']}")
    return "\n".join(lines)


def main(argv):
    if len(argv) == 4 and argv[2] == "--timeline":
        runs = timeline(load(argv[1]), argv[3])
        if not runs:
            print(f"no query named {argv[3]}", file=sys.stderr)
            return 1
        print(render_timeline(runs))
        return 0
    if len(argv) != 2:
        print("\n".join(l.strip() for l in __doc__.strip().splitlines()[2:4]),
              file=sys.stderr)
        return 2
    print(render(report(load(argv[1]))))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
