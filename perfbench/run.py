#!/usr/bin/env python3
"""Label-store benchmark: build the program from source, run one workload
in a fresh JVM, check its outputs and print its metrics.

    python3 perfbench/run.py --workload ingest_backfill --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py compare A.json B.json

Run it from the repository root. The build goes to .bench_build/ and is
reused while no source changes. Each run works in its own directory under
.bench_runs/, deleted afterwards; its record (and, when traced, its spans)
is kept under .bench_out/. The last line of stdout is one JSON object:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the metrics
are the end-to-end ones, with --trace 1 the per-layer ones. The exit code
is 0 only when every correctness check passed.
"""

import argparse
import hashlib
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

WORKLOADS = ("ingest_backfill", "label_lookup")
RUN_LIMIT_S = 165  # one run, build excluded
JVM_HEAP = "2g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]

ROOT = Path.cwd()
BUILD = ROOT / ".bench_build"
RUNS = ROOT / ".bench_runs"
OUT = ROOT / ".bench_out"


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    """The Spark jars the program builds against: the directory that
    build.sbt's unmanagedBase names, else $SPARK_HOME/jars."""
    candidates = []
    sbt = ROOT / "build.sbt"
    if sbt.is_file():
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt.read_text())
        if m:
            candidates.append(Path(m.group(1)))
    if os.environ.get("SPARK_HOME"):
        candidates.append(Path(os.environ["SPARK_HOME"]) / "jars")
    for jars in candidates:
        if any(jars.glob("spark-sql_*.jar")):
            return jars
    fail("no Spark jars: neither build.sbt's unmanagedBase nor $SPARK_HOME/jars has them")


def sources():
    main = sorted((ROOT / "src/main/scala").rglob("*.scala"))
    bench = sorted((ROOT / "perfbench/src").glob("*.scala"))
    if not main:
        fail("no program sources under src/main/scala; run from the repository root")
    if not bench:
        fail("no benchmark sources under perfbench/src")
    resources = sorted(p for p in (ROOT / "src/main/resources").rglob("*") if p.is_file())
    return main + bench, resources


def digest(paths):
    h = hashlib.sha256()
    for p in paths:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(hashlib.sha256(p.read_bytes()).digest())
    return h.hexdigest()[:16]


def build(jars):
    """Compile the program and the benchmark harness with scalac from the
    Spark distribution (no sbt, no downloads); skipped when up to date."""
    srcs, resources = sources()
    stamp = digest(srcs + resources)
    classes = BUILD / "classes"
    if (BUILD / "stamp").is_file() and (BUILD / "stamp").read_text() == stamp:
        return stamp
    tmp = BUILD / "classes.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    argfile = BUILD / "sources.txt"
    argfile.write_text("\n".join(str(p) for p in srcs) + "\n")
    cp = f"{jars}/*"
    cmd = ["java", "-XX:-UsePerfData", "-Xmx2g", "-Xss8m", "-cp", cp,
           "scala.tools.nsc.Main", "-nowarn", "-classpath", cp, "-d", str(tmp), f"@{argfile}"]
    res = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if res.returncode != 0:
        sys.stderr.write(res.stdout[-4000:])
        fail("build failed")
    for r in resources:
        dst = tmp / r.relative_to(ROOT / "src/main/resources")
        dst.parent.mkdir(parents=True, exist_ok=True)
        shutil.copyfile(r, dst)
    shutil.rmtree(classes, ignore_errors=True)
    tmp.rename(classes)
    (BUILD / "stamp").write_text(stamp)
    return stamp


def git_sha():
    if not (ROOT / ".git").exists():
        return None
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                              text=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def run_jvm(args, jars, work, record):
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    (work / "tmp").mkdir(parents=True)
    # Only a heap cap, and the serial collector: it grows the heap by the
    # free share left after each collection, not by pause-time goals, so
    # the peak resident set follows the program's live data rather than
    # the host's load. No perf-data file: the JVM would write it outside
    # the checkout.
    cmd = ["java", *opens, "-XX:-UsePerfData", "-XX:+UseSerialGC", f"-Xmx{JVM_HEAP}",
           f"-Djava.io.tmpdir={work / 'tmp'}",
           "-cp", f"{BUILD / 'classes'}:{jars}/*", "perfbench.Main",
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--work", str(work), "--record", str(record), "--cpus", "4",
           "--launch-epoch-ms", str(int(time.time() * 1000))]
    log = open(work / "jvm.log", "w")
    # few malloc arenas: native allocations from many threads would
    # otherwise spread over per-thread arenas that the resident set
    # counts in varying amounts
    env = {**os.environ, "MALLOC_ARENA_MAX": "2"}
    proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, env=env,
                            start_new_session=True)
    try:
        code = proc.wait(timeout=RUN_LIMIT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        code = None
    finally:
        log.close()
    if code != 0:
        tail = (work / "jvm.log").read_text(errors="replace")[-4000:]
        sys.stderr.write(tail)
        fail("run timed out" if code is None else f"run exited with {code}")


def num(v):
    return f"{v:14.4f}" if isinstance(v, (int, float)) else f"{'n/a':>14s}"


def show(rec):
    """Human-readable block: every end-to-end metric with its unit, the
    workload's own named metrics, and the error rate."""
    w = rec["workload"]
    print(f"# {w} seed={rec['seed']} seconds={rec['seconds']} trace={rec['trace']}")
    for name, m in rec["e2e"].items():
        print(f"{w:16s} {name:26s} {num(m['value'])} {m['unit']}")
    for name, m in rec["named"].items():
        print(f"{w:16s} {name:26s} {num(m['value'])} {m['unit']}  (samples {m['samples']})")
    print(f"{w:16s} {'op_samples':26s} {rec['op_samples']:14d} count")
    print(f"{w:16s} {'error_rate':26s} {rec['error_rate']:14.4f} ratio"
          f"  ({rec['failed']} failed of {rec['attempted']})")
    for c in rec["checks"]:
        if not c["ok"]:
            print(f"{w:16s} CHECK FAILED {c['name']}: {c['detail']}")
    if "trace_overhead" in rec:
        for name, d in rec["trace_overhead"].items():
            print(f"{w:16s} trace overhead {name:18s} {d:+14.4f}")


def comparable(a, b):
    """Why two records may not be compared, or None when they may."""
    for key in ("workload", "seconds"):
        if a.get(key) != b.get(key):
            return f"{key} differs: {a.get(key)} vs {b.get(key)}"
    for key in ("master", "cpus", "nproc"):
        if a["meta"].get(key) != b["meta"].get(key):
            return f"meta.{key} differs: {a['meta'].get(key)} vs {b['meta'].get(key)}"
    if a["params"] != b["params"]:
        return "workload parameters differ"
    return None


def overhead(rec):
    """Traced end-to-end metrics minus those of the untraced run of the
    same workload, seed and parameters, when one is on record."""
    base = OUT / f"{rec['workload']}-seed{rec['seed']}-trace0.json"
    if not base.is_file():
        return None
    b = json.loads(base.read_text())
    if comparable(rec, b) is not None:
        return None
    return {k: rec["e2e"][k]["value"] - b["e2e"][k]["value"] for k in rec["e2e"]
            if isinstance(rec["e2e"][k]["value"], (int, float))
            and isinstance(b["e2e"][k]["value"], (int, float))}


def measure(args):
    if args.workload not in WORKLOADS:
        fail(f"unknown workload {args.workload!r}; one of {', '.join(WORKLOADS)}")
    jars = spark_jars()
    stamp = build(jars)
    RUNS.mkdir(exist_ok=True)
    OUT.mkdir(exist_ok=True)
    work = RUNS / f"{args.workload}-{args.seed}-{args.trace}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    record = work / "record.json"
    try:
        run_jvm(args, jars, work, record)
        if not record.is_file():
            fail("run wrote no record")
        rec = json.loads(record.read_text())
        stem = f"{args.workload}-seed{args.seed}-trace{args.trace}"
        spans = work / "record.spans.jsonl"
        if spans.is_file():
            shutil.copyfile(spans, OUT / f"{stem}.spans.jsonl")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    rec["meta"].update({"git_sha": git_sha(), "source_digest": stamp,
                        "host_nproc": os.cpu_count()})
    rec["error_rate"] = rec["failed"] / max(1, rec["attempted"])
    if args.trace:
        ov = overhead(rec)
        if ov is not None:
            rec["trace_overhead"] = ov
    (OUT / f"{stem}.json").write_text(json.dumps(rec, indent=1) + "\n")
    show(rec)
    metrics = rec["per_layer"] if args.trace else rec["e2e"]
    print(json.dumps({"correct": bool(rec["correct"]), "attempted": int(rec["attempted"]),
                      "failed": int(rec["failed"]), "metrics": metrics}))
    return 0 if rec["correct"] else 1


def compare(paths):
    a, b = (json.loads(Path(p).read_text()) for p in paths)
    why = comparable(a, b)
    if why is not None:
        print(f"perfbench: refusing to compare: {why}", file=sys.stderr)
        return 2
    bounds = {}
    spec = ROOT / "BENCHMARK.json"
    if spec.is_file():
        bounds = {m["name"]: m for m in json.loads(spec.read_text())["end_to_end"]}
    for name, m in a["e2e"].items():
        va, vb = m["value"], b["e2e"][name]["value"]
        rel = (vb - va) / va if va else float("nan")
        spec_m = bounds.get(name, {})
        worse = rel if spec_m.get("better", "lower") == "lower" else -rel
        verdict = ""
        if "bound" in spec_m:
            verdict = "WORSE" if worse > spec_m["bound"] else "ok"
        print(f"{name:22s} {va:14.4f} -> {vb:14.4f} {m['unit']:6s} {rel:+8.2%} {verdict}")
    return 0


def main(argv):
    if argv[:1] == ["compare"]:
        if len(argv) != 3:
            fail("usage: run.py compare A.json B.json")
        return compare(argv[1:])
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return measure(ap.parse_args(argv))


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
