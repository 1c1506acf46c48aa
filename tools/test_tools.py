#!/usr/bin/env python3
"""Self-test for the bench-gate tools (run by round_close.sh step 0).

Pins the round-17 verdict Next #1 contract:
  - reprobe_check.py overwrites ONLY the `quiescent` entry of a
    noise-confirmed query; the as-measured `quiescent_insuite` reading
    stays on the record untouched;
  - the session-state leak gate fails when a query's insuite/solo
    divergence recurs in two consecutive rounds, and passes on a
    first occurrence;
and the bench_regress.py retirement contract (Next #8): a query named
in the candidate's `excluded` list is RETIRED, not MISSING; the
spans_report.py per-query job table and per-query job timeline of a
traced perfbench run; that every `runMain graft.<Name>` in README.md
and tools/*.sh names an object with a `def main` under src/main/scala;
that no scaladoc block in src/main/scala is orphaned by another one
stacked directly below it; that every scaladoc `[[link]]` there names
a definition that exists; and that the epoch-day expression has one owner,
`EventWindows.epochDay`.

No Spark, no sbt — pure JSON fixtures through the real scripts.
"""
import glob
import json
import os
import re
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))


def run(script, *args):
    return subprocess.run(
        [sys.executable, os.path.join(HERE, script), *args],
        capture_output=True, text=True)


def write(d, path):
    with open(path, "w") as f:
        json.dump(d, f)
    return path


def bench_doc(quiescent, excluded=(), insuite=None):
    return {"metric": "total", "value": 1.0, "unit": "sec", "wall": 1.0,
            "excluded": list(excluded), "queries": dict(quiescent),
            "quiescent_total": sum(v for v in quiescent.values() if v >= 0),
            "quiescent": dict(quiescent),
            "quiescent_insuite": dict(insuite or quiescent), "sf": 0.1}


def test_regress_retired_vs_missing(tmp):
    base = write(bench_doc({"a": 1.0, "b": 2.0}),
                 os.path.join(tmp, "base.json"))
    # absent + named excluded -> RETIRED, exit 0
    cand = write(bench_doc({"a": 1.1}, excluded=["b"]),
                 os.path.join(tmp, "cand_retired.json"))
    r = run("bench_regress.py", base, cand)
    assert r.returncode == 0, r.stdout + r.stderr
    assert "RETIRED  b:" in r.stdout, r.stdout
    # absent, NOT excluded -> MISSING, exit 1
    cand = write(bench_doc({"a": 1.1}),
                 os.path.join(tmp, "cand_missing.json"))
    r = run("bench_regress.py", base, cand)
    assert r.returncode == 1 and "MISSING  b:" in r.stdout, r.stdout
    # crashed -> FAILED, exit 1 (a crash must never pass the gate)
    cand = write(bench_doc({"a": 1.1, "b": -1.0}),
                 os.path.join(tmp, "cand_failed.json"))
    r = run("bench_regress.py", base, cand)
    assert r.returncode == 1 and "FAILED  b:" in r.stdout, r.stdout


def test_reprobe_overwrite_keeps_insuite(tmp):
    base = write(bench_doc({"a": 1.0, "b": 2.0}),
                 os.path.join(tmp, "rb_base.json"))
    # candidate measured a 20s in-suite spike on b (baseline 2s)
    cand_path = write(bench_doc({"a": 1.1, "b": 20.0}),
                      os.path.join(tmp, "rb_cand.json"))
    probe = os.path.join(tmp, "probe.out")
    with open(probe, "w") as f:
        f.write("[probe] b                        2.10 s  (5 rows)\n")
    r = run("reprobe_check.py", base, cand_path, probe)
    assert r.returncode == 0, r.stdout + r.stderr
    assert "NOISE-CONFIRMED" in r.stdout, r.stdout
    out = json.load(open(cand_path))
    assert out["quiescent"]["b"] == 2.10, out["quiescent"]
    # the in-suite reading is the record — never rewritten
    assert out["quiescent_insuite"]["b"] == 20.0, out["quiescent_insuite"]
    # a reproduced regression still fails
    cand_path = write(bench_doc({"a": 1.1, "b": 20.0}),
                      os.path.join(tmp, "rb_cand2.json"))
    with open(probe, "w") as f:
        f.write("[probe] b                       19.50 s  (5 rows)\n")
    r = run("reprobe_check.py", base, cand_path, probe)
    assert r.returncode == 1 and "CONFIRMED-REGRESSION" in r.stdout, r.stdout


def test_reprobe_leak_gate(tmp):
    # round N-1 (committed baseline): b already diverged insuite 20 vs
    # solo-confirmed 2
    base = write(bench_doc({"a": 1.0, "b": 2.0},
                           insuite={"a": 1.0, "b": 20.0}),
                 os.path.join(tmp, "lk_base.json"))
    # round N: b spikes in-suite again, solo re-probe is quiet again ->
    # two consecutive rounds of insuite/solo divergence = leak, exit 1
    cand_path = write(bench_doc({"a": 1.1, "b": 21.0}),
                      os.path.join(tmp, "lk_cand.json"))
    probe = os.path.join(tmp, "lk_probe.out")
    with open(probe, "w") as f:
        f.write("[probe] b                        2.05 s  (5 rows)\n")
    r = run("reprobe_check.py", base, cand_path, probe)
    assert r.returncode == 1, r.stdout + r.stderr
    assert "SESSION-STATE-LEAK  b:" in r.stdout, r.stdout
    # first occurrence (baseline had no divergence) -> noise, exit 0
    base1 = write(bench_doc({"a": 1.0, "b": 2.0}),
                  os.path.join(tmp, "lk_base1.json"))
    cand_path = write(bench_doc({"a": 1.1, "b": 21.0}),
                      os.path.join(tmp, "lk_cand1.json"))
    r = run("reprobe_check.py", base1, cand_path, probe)
    assert r.returncode == 0, r.stdout + r.stderr


def test_oracle_ratio_report(tmp):
    # flags only >2x AND >5s; skips crashed (-1) and unpaired queries;
    # informational — exit 0 even with flagged rows
    bench = write(bench_doc({"a": 30.0, "b": 3.0, "c": 12.0, "d": -1.0}),
                  os.path.join(tmp, "bench.json"))
    times = write({"total_sec": 20.0,
                   "queries": {"a": 3.0, "b": 1.0, "c": 11.0, "d": 1.0,
                               "unpaired": 1.0}},
                  os.path.join(tmp, "times.json"))
    r = run("oracle_ratio.py", bench, times)
    assert r.returncode == 0, r.stderr
    assert "RATIO  a:" in r.stdout, r.stdout      # 10x, +27s -> flagged
    assert "RATIO  b:" not in r.stdout, r.stdout  # 3x but only +2s
    assert "RATIO  c:" not in r.stdout, r.stdout  # +1s, 1.1x
    assert "RATIO  d:" not in r.stdout, r.stdout  # crashed, skipped
    assert "1 over" in r.stdout, r.stdout


def test_spans_report(tmp):
    # one query 0..100 ms: two Dedup barrier jobs (overlapping 10..40 and
    # 30..50) and one collect job (60..70) -> 40 ms of job wall for the
    # barrier group, 50 ms of the query covered, 50 ms driver-only
    def span(i, parent, kind, name, s, e, **attrs):
        return {"id": i, "parent": parent, "kind": kind, "name": name,
                "start_ms": s, "end_ms": e, "attrs": attrs}
    spans = [
        span(1, 0, "workload", "w", 0, 100),
        span(2, 1, "pass", "pass 0", 0, 100),
        span(3, 2, "query", "x1", 0, 100, **{"pass": 0, "plan_ms": 1.0}),
        span(4, 3, "phase", "build", 0, 55),
        span(5, 4, "job", "job 1", 10, 40, site="Checkpoints.scala",
             owner="Dedup.scala", run_ms=50.0, cpu_ms=20.0, tasks=4.0,
             task_wait_ms=8.0),
        span(6, 4, "job", "job 2", 30, 50, site="Checkpoints.scala",
             owner="Dedup.scala", run_ms=10.0, cpu_ms=5.0, tasks=1.0,
             task_wait_ms=2.0),
        span(7, 3, "phase", "consume", 55, 100),
        span(8, 7, "job", "job 3", 60, 70, site="Harness.scala",
             owner="Harness.scala", run_ms=9.0, cpu_ms=3.0, tasks=1.0,
             task_wait_ms=0.0),
    ]
    with open(os.path.join(tmp, "spans.jsonl"), "w") as f:
        f.writelines(json.dumps(s) + "\n" for s in spans)
    r = run("spans_report.py", tmp)
    assert r.returncode == 0, r.stdout + r.stderr
    lines = r.stdout.splitlines()
    assert lines[0] == "x1 (pass 0): latency 100 ms, driver-only 50 ms", r.stdout
    barrier = lines[2].split()
    assert barrier == ["Checkpoints.scala/Dedup.scala", "2", "40", "60",
                       "25", "5", "2.0"], r.stdout
    collect = lines[3].split()
    assert collect[:3] == ["Harness.scala/Harness.scala", "1", "10"], r.stdout

    # --timeline: the same query's jobs in start order, one row each
    r = run("spans_report.py", tmp, "--timeline", "x1")
    assert r.returncode == 0, r.stdout + r.stderr
    lines = r.stdout.splitlines()
    assert lines[0] == "x1 (pass 0): latency 100 ms", r.stdout
    assert [l.split() for l in lines[2:]] == [
        ["10", "30", "4", "50", "20", "Dedup.scala"],
        ["30", "20", "1", "10", "5", "Dedup.scala"],
        ["60", "10", "1", "9", "3", "Harness.scala"]], r.stdout
    r = run("spans_report.py", tmp, "--timeline", "nope")
    assert r.returncode == 1, r.stdout + r.stderr


def stale_run_mains(root):
    """`runMain graft.<Name>` references in README.md and tools/*.sh with
    no `object <Name>` holding a `def main` under src/main/scala, as
    "file:line: graft.<Name>"."""
    mains = set()
    for d, _, files in os.walk(os.path.join(root, "src", "main", "scala")):
        for name in files:
            if not name.endswith(".scala"):
                continue
            with open(os.path.join(d, name), encoding="utf-8") as f:
                text = f.read()
            for m in re.finditer(r"^object (\w+)", text, re.M):
                # a top-level object's body ends at the first column-0 "}"
                end = text.find("\n}", m.end())
                if "def main(" in text[m.end():end if end >= 0 else None]:
                    mains.add(m.group(1))
    stale = []
    docs = [os.path.join(root, "README.md")] + sorted(
        glob.glob(os.path.join(root, "tools", "*.sh")))
    for path in docs:
        with open(path, encoding="utf-8") as f:
            for n, line in enumerate(f, 1):
                for name in re.findall(r"runMain graft\.(\w+)", line):
                    if name not in mains:
                        stale.append(
                            f"{os.path.relpath(path, root)}:{n}: graft.{name}")
    return stale


def test_run_main_targets(tmp):
    stale = stale_run_mains(os.path.dirname(HERE))
    assert stale == [], stale
    # fixture tree: one main, one object without one, one missing object
    src = os.path.join(tmp, "mains", "src", "main", "scala", "graft")
    os.makedirs(src)
    os.makedirs(os.path.join(tmp, "mains", "tools"))
    with open(os.path.join(src, "A.scala"), "w") as f:
        f.write("package graft\n\nobject A {\n  def main(args: Array[String]): "
                "Unit = ()\n}\n\nobject B {\n  def run(): Unit = ()\n}\n")
    with open(os.path.join(tmp, "mains", "README.md"), "w") as f:
        f.write('sbt "runMain graft.A"\nsbt "runMain graft.B"\n'
                'sbt "runMain graft.Gone x"\n')
    with open(os.path.join(tmp, "mains", "tools", "t.sh"), "w") as f:
        f.write('sbt -batch "runMain graft.A"\n')
    assert stale_run_mains(os.path.join(tmp, "mains")) == [
        "README.md:2: graft.B", "README.md:3: graft.Gone"]


def orphaned_scaladoc(root):
    """`/** ... */` blocks under src/main/scala followed, with only blank
    lines between, by another `/**`: scaladoc attaches only the last block
    to the next definition, so the earlier one documents nothing. As
    "file:line" of the orphaned block's first line."""
    orphans = []
    for d, _, files in os.walk(os.path.join(root, "src", "main", "scala")):
        for name in sorted(files):
            if not name.endswith(".scala"):
                continue
            path = os.path.join(d, name)
            with open(path, encoding="utf-8") as f:
                text = f.read()
            for m in re.finditer(r"/\*\*.*?\*/", text, re.S):
                if re.match(r"[ \t]*\n(?:[ \t]*\n)*[ \t]*/\*\*",
                            text[m.end():]):
                    orphans.append(f"{os.path.relpath(path, root)}:"
                                   f"{text.count(chr(10), 0, m.start()) + 1}")
    return sorted(orphans)


def test_orphaned_scaladoc(tmp):
    orphans = orphaned_scaladoc(os.path.dirname(HERE))
    assert orphans == [], orphans
    # fixture: a stacked pair (blank line between), a one-line doc right
    # above another, a doc separated by code, and a doc on its own def
    src = os.path.join(tmp, "docs", "src", "main", "scala")
    os.makedirs(src)
    with open(os.path.join(src, "A.scala"), "w") as f:
        f.write("object A {\n"
                "  /** Gone.\n    */\n\n"
                "  /** Kept. */\n  def a = 1\n"
                "  /** Gone too. */\n  /** Also kept. */\n  def b = 2\n"
                "  /** Kept. */\n  val c = 3 // /** not a doc\n"
                "  /** Kept. */\n  def d = 4\n}\n")
    assert orphaned_scaladoc(os.path.join(tmp, "docs")) == [
        os.path.join("src", "main", "scala", "A.scala") + ":2",
        os.path.join("src", "main", "scala", "A.scala") + ":7"]


def dangling_scaladoc_links(root):
    """`[[...]]` links under src/main/scala whose last segment names no
    `def`/`val`/`var`/`object`/`class`/`trait`/`type` under src/main/scala
    (a link to a deleted or renamed definition), as "file:line: target".
    External `[[scheme://...]]` links are skipped."""
    names, links = set(), []
    for d, _, files in os.walk(os.path.join(root, "src", "main", "scala")):
        for name in sorted(files):
            if not name.endswith(".scala"):
                continue
            path = os.path.join(d, name)
            with open(path, encoding="utf-8") as f:
                text = f.read()
            names.update(re.findall(
                r"\b(?:def|val|var|object|class|trait|type)\s+(\w+)", text))
            for m in re.finditer(r"\[\[([^\[\]]+)\]\]", text):
                links.append((os.path.relpath(path, root),
                              text.count("\n", 0, m.start()) + 1,
                              m.group(1).split()[0]))
    return sorted(f"{path}:{n}: {target}" for path, n, target in links
                  if "://" not in target and
                  re.split(r"[.#]", target.rstrip("$!"))[-1] not in names)


def test_dangling_scaladoc_links(tmp):
    dangling = dangling_scaladoc_links(os.path.dirname(HERE))
    assert dangling == [], dangling
    # fixture: links to a def, an object member, a qualified object, a
    # link with display text and an external URL resolve; a planted link
    # to a deleted def and one to a missing member do not
    src = os.path.join(tmp, "links", "src", "main", "scala", "graft")
    os.makedirs(src)
    with open(os.path.join(src, "A.scala"), "w") as f:
        f.write("package graft\n\n"
                "/** See [[B.b]], [[graft.B]] and [[a the a def]]. */\n"
                "object A {\n"
                "  /** Like [[https://example.org/x]], not [[gone]]. */\n"
                "  def a = 1\n"
                "}\n\n"
                "/** Uses [[graft.A.missing]]. */\n"
                "object B {\n  val b = 2\n}\n")
    path = os.path.join("src", "main", "scala", "graft", "A.scala")
    assert dangling_scaladoc_links(os.path.join(tmp, "links")) == [
        f"{path}:5: gone", f"{path}:9: graft.A.missing"]


EPOCH_DAY = re.compile(
    r'floorDivSql\(\s*"ts_ns",\s*86400L\s*\*\s*1000000000L\s*\)')


def stray_epoch_days(root):
    """`floorDivSql("ts_ns", 86400L * 1000000000L)` sites under
    src/main/scala outside EventWindows.scala, whose `epochDay` owns the
    day expression, as "file:line". DuckDB oracle SQL floors with `//`, so
    it never matches."""
    stray = []
    for d, _, files in os.walk(os.path.join(root, "src", "main", "scala")):
        for name in sorted(files):
            if not name.endswith(".scala") or name == "EventWindows.scala":
                continue
            path = os.path.join(d, name)
            with open(path, encoding="utf-8") as f:
                text = f.read()
            for m in EPOCH_DAY.finditer(text):
                stray.append(f"{os.path.relpath(path, root)}:"
                             f"{text.count(chr(10), 0, m.start()) + 1}")
    return sorted(stray)


def test_stray_epoch_days(tmp):
    stray = stray_epoch_days(os.path.dirname(HERE))
    assert stray == [], stray
    # fixture: the owner's own site and an oracle `//` string pass; a
    # planted one-line site and a site split across lines do not
    src = os.path.join(tmp, "days", "src", "main", "scala", "graft")
    os.makedirs(src)
    with open(os.path.join(src, "EventWindows.scala"), "w") as f:
        f.write('object EventWindows {\n  def epochDay = expr(floorDivSql('
                '"ts_ns", 86400L * 1000000000L))\n}\n')
    with open(os.path.join(src, "A.scala"), "w") as f:
        f.write('object A {\n'
                '  val sql = "SELECT epoch_ns(ts) // 86400000000000 AS day"\n'
                '  val day = expr(EventWindows.floorDivSql("ts_ns", '
                '86400L * 1000000000L))\n'
                '  val hour = expr(EventWindows.floorDivSql("ts_ns", '
                '3600L * 1000000000L))\n'
                '  val d2 = expr(EventWindows\n'
                '    .floorDivSql("ts_ns", 86400L * 1000000000L))\n}\n')
    path = os.path.join("src", "main", "scala", "graft", "A.scala")
    assert stray_epoch_days(os.path.join(tmp, "days")) == [
        f"{path}:3", f"{path}:6"]


def main():
    with tempfile.TemporaryDirectory() as tmp:
        test_regress_retired_vs_missing(tmp)
        test_reprobe_overwrite_keeps_insuite(tmp)
        test_reprobe_leak_gate(tmp)
        test_oracle_ratio_report(tmp)
        test_spans_report(tmp)
        test_run_main_targets(tmp)
        test_orphaned_scaladoc(tmp)
        test_dangling_scaladoc_links(tmp)
        test_stray_epoch_days(tmp)
    print("tools self-test: OK")


if __name__ == "__main__":
    main()
