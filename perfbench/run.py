#!/usr/bin/env python3
"""Build and run the graft benchmark.

Usage (from the root of a graft checkout):

    python3 perfbench/run.py --workload sar_interactive --seed 1 \
        --seconds 10 --trace 0

Workloads: sar_interactive, sar_upload, query_suite (see README.md).

The first run compiles `src/main/scala` plus `perfbench/src` with the
Scala compiler shipped among the Spark jars the repo's build uses, into
`.bench_build/perfbench/classes-<source digest>`; later runs reuse it.
The run itself is one JVM (`perfbench.Main`) that prints one JSON line
per metric. This script echoes those lines and ends with one summary
line: {"correct", "attempted", "failed", "metrics"}, where `metrics`
holds the `end_to_end` metrics of BENCHMARK.json (`--trace 0`) or its
`per_layer` metrics (`--trace 1`). A per-layer metric the workload does
not exercise is reported as 0.

Exit code 0 only when the program ran to completion; any build or run
failure exits non-zero without a summary line.
"""

import argparse
import hashlib
import json
import os
import re
import shutil
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = Path.cwd().resolve()
BUILD = ROOT / ".bench_build" / "perfbench"
# Seconds before a run is killed, per workload. The first two are the
# ones BENCHMARK.json lists; the others are run by hand (see README.md).
RUN_TIMEOUT_S = {"sar_interactive": 170, "query_suite": 170, "sar_upload": 170,
                 "sar_upload_huge": 900, "record_queries": 900}
WORKLOADS = tuple(RUN_TIMEOUT_S)
# Driver heap of every run; the ~280 MB upload of sar_upload_huge fails
# at this size (README.md).
HEAP = "3g"

# Spark 4 on JDK 17 outside spark-submit (same list as build.sbt).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def die(msg, log=None):
    print(f"perfbench: {msg}", file=sys.stderr)
    if log is not None and log.exists():
        tail = log.read_text(errors="replace").splitlines()[-40:]
        print("\n".join(tail), file=sys.stderr)
    sys.exit(1)


def spark_jars():
    """The Spark jar directory the build uses (its unmanagedBase)."""
    build = ROOT / "build.sbt"
    if not build.exists():
        die("no build.sbt in the working directory; run from a graft checkout")
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', build.read_text())
    if not m:
        die("build.sbt names no unmanagedBase")
    return Path(m.group(1))


def sources():
    main = ROOT / "src" / "main" / "scala"
    if not main.is_dir():
        die("src/main/scala not found; run from the root of a graft checkout")
    files = sorted(main.rglob("*.scala")) + sorted((HERE / "src").glob("*.scala"))
    resources = sorted(p for p in (ROOT / "src" / "main" / "resources").rglob("*")
                       if p.is_file())
    return files, resources


def digest(paths):
    h = hashlib.sha1()
    for p in paths:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()[:16]


def build(jars):
    files, resources = sources()
    d = digest(files + resources)
    out = BUILD / f"classes-{d}"
    if (out / ".done").exists():
        return out, d
    BUILD.mkdir(parents=True, exist_ok=True)
    tmp = BUILD / f"tmp-classes-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    args = BUILD / f"scalac-{os.getpid()}.args"
    args.write_text("\n".join(str(f) for f in files) + "\n")
    log = BUILD / "build.log"
    t0 = time.time()
    with open(log, "w") as lf:
        rc = subprocess.call(
            ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", f"{jars}/*",
             "scala.tools.nsc.Main", "-usejavacp", "-nowarn",
             "-d", str(tmp), f"@{args}"],
            stdout=lf, stderr=subprocess.STDOUT, timeout=840)
    args.unlink()
    if rc != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        die(f"compile failed (exit {rc})", log)
    for stale in BUILD.glob("classes-*"):
        shutil.rmtree(stale, ignore_errors=True)
    (tmp / ".done").write_text(f"{time.time() - t0:.1f}\n")
    tmp.rename(out)
    return out, d


def benchmark_names(trace):
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    section = "per_layer" if trace else "end_to_end"
    return [(m["name"], m["unit"]) for m in spec[section]]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    names = benchmark_names(a.trace)
    jars = spark_jars()
    if not list(jars.glob("scala-compiler-*.jar")):
        die(f"no Scala compiler among the Spark jars in {jars}")
    classes, src_digest = build(jars)

    work = BUILD / "runs" / f"{a.workload}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    logs = BUILD / "logs"
    logs.mkdir(parents=True, exist_ok=True)
    log = logs / f"{a.workload}-seed{a.seed}-trace{a.trace}.log"
    # -XX:-UsePerfData: no hsperfdata file outside the checkout
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseG1GC", "-XX:-UsePerfData"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + [f"-Djava.io.tmpdir={work / 'tmp'}",
              f"-Dspark.local.dir={work / 'spark-local'}",
              f"-Dspark.sql.warehouse.dir={work / 'warehouse'}",
              f"-Dlog4j2.configurationFile={HERE / 'log4j2.properties'}",
              "-Dspark.ui.enabled=false",
              "-cp", os.pathsep.join([str(classes),
                                      str(ROOT / "src" / "main" / "resources"),
                                      f"{jars}/*"]),
              "perfbench.Main",
              "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", str(a.trace),
              "--work", str(work), "--data", str(HERE / "data" / "sf0.01"),
              "--commit", f"src-{src_digest}"])
    metrics = {}
    try:
        with open(log, "w") as lf:
            proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=lf,
                                    text=True, cwd=work)
            try:
                out, _ = proc.communicate(timeout=RUN_TIMEOUT_S[a.workload])
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
                die(f"run exceeded {RUN_TIMEOUT_S[a.workload]} s", log)
        for line in out.splitlines():
            line = line.strip()
            if not line.startswith("{"):
                continue
            try:
                rec = json.loads(line)
            except ValueError:
                continue
            if "metric" in rec:
                metrics[rec["metric"]] = rec
                print(json.dumps(rec, separators=(",", ":")))
        if proc.returncode != 0:
            die(f"benchmark exited {proc.returncode}", log)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    for k in ("attempted", "failed"):
        if k not in metrics:
            die(f"run printed no '{k}' count", log)
    summary = {}
    for name, unit in names:
        rec = metrics.get(name)
        if rec is None and a.trace:
            rec = {"value": 0.0}  # layer not exercised by this workload
        if rec is None or rec["value"] is None:
            die(f"metric {name} missing from the run", log)
        summary[name] = {"value": rec["value"], "unit": unit}
    failed = int(metrics["failed"]["value"])
    print(json.dumps({"correct": failed == 0,
                      "attempted": int(metrics["attempted"]["value"]),
                      "failed": failed, "metrics": summary},
                     separators=(",", ":")))


if __name__ == "__main__":
    main()
