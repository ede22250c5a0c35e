#!/usr/bin/env python3
"""Run the benchmark: build the engine and the harness from source, then
run one workload (or all) in a fresh JVM.

Usage (from the repository root):
  python3 perfbench/run.py --workload <revenue_daily|catalog_core|all>
      --seed <n> --seconds <s> [--trace 0|1]

The first run in a checkout compiles perfbench/ (which includes the
engine's src/main) with sbt; later runs reuse the build while no source
file has changed. Every metric is printed as `name value unit`, and the
last line of stdout is the result as one JSON object. Scratch data goes
to .bench_work/ under the repository root; a traced run leaves its spans
there as <workload>-spans.json.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
BUILD = ROOT / ".bench_build"
WORK = ROOT / ".bench_work"
WORKLOADS = ["revenue_daily", "catalog_core"]
RUN_TIMEOUT_S = 170
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def sources():
    """Every file the build reads, in a stable order."""
    roots = [ROOT / "src" / "main", HERE / "src" / "main", HERE / "project"]
    files = [HERE / "build.sbt"]
    for r in roots:
        files += sorted(p for p in r.rglob("*") if p.is_file() and "target" not in p.parts)
    return files


def build():
    """Compile with sbt unless the sources match the last build.
    Returns the runtime classpath."""
    if not (ROOT / "src" / "main" / "scala" / "graft").is_dir():
        sys.exit("perfbench: the engine's sources (src/main/scala/graft) are missing")
    digest = hashlib.sha256()
    for f in sources():
        digest.update(str(f.relative_to(ROOT)).encode())
        digest.update(f.read_bytes())
    stamp, cp_file = BUILD / "stamp", BUILD / "classpath.txt"
    if stamp.exists() and cp_file.exists() and stamp.read_text() == digest.hexdigest():
        return cp_file.read_text()
    env = dict(os.environ, COURSIER_MODE="offline")
    if "SPARK_HOME" not in env:
        submit = shutil.which("spark-submit")
        if submit is None:
            sys.exit("perfbench: set SPARK_HOME to the Spark installation")
        env["SPARK_HOME"] = str(Path(submit).resolve().parent.parent)
    sbt_opts = ["-Dsbt.offline=true", "-Xmx3g"]
    repos = Path.home() / ".sbt" / "repositories"
    if repos.exists():
        sbt_opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(sbt_opts)
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeClasspath"],
                       cwd=HERE, env=env, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        sys.exit(f"perfbench: build failed (sbt exit {r.returncode})")
    BUILD.mkdir(exist_ok=True)
    cp = (HERE / "target" / "classpath.txt").read_text()
    cp_file.write_text(cp)
    stamp.write_text(digest.hexdigest())
    return cp


def run_one(cp, workload, seed, seconds, trace):
    """Run one workload in its own JVM; returns its result (None on failure)."""
    work = WORK / workload
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    cpus = len(os.sched_getaffinity(0))
    cmd = (["java"] + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in ADD_OPENS] +
           ["-Xmx3g", f"-Djava.io.tmpdir={work / 'tmp'}", "-Dspark.ui.enabled=false",
            "-cp", cp, "perfbench.Main", "--workload", workload, "--seed", str(seed),
            "--seconds", str(seconds), "--trace", str(trace),
            "--work", str(work), "--data", str(HERE / "data")])
    # Spark takes its scratch directory from SPARK_LOCAL_DIRS over any
    # setting: keep it inside the checkout
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cpus),
               SPARK_LOCAL_DIRS=str(work / "spark-local"))
    proc = subprocess.Popen(cmd, env=env, stdout=subprocess.PIPE, stderr=sys.stderr, text=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        print(f"perfbench: {workload} exceeded {RUN_TIMEOUT_S} s", file=sys.stderr)
        return None
    finally:
        spans = work / "spans.json"
        if spans.exists():
            shutil.copyfile(spans, WORK / f"{workload}-spans.json")
        shutil.rmtree(work, ignore_errors=True)
    lines = out.strip().splitlines()
    if proc.returncode != 0 or not lines:
        print(f"perfbench: {workload} exited {proc.returncode}", file=sys.stderr)
        return None
    print("\n".join(f"[{workload}] {l}" for l in lines[:-1]), file=sys.stderr)
    return json.loads(lines[-1])


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ["all"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    cp = build()
    names = WORKLOADS if a.workload == "all" else [a.workload]
    results = {}
    for name in names:
        res = run_one(cp, name, a.seed, a.seconds, a.trace)
        if res is None:
            sys.exit(1)
        print(f"{name}: correct={res['correct']} attempted={res['attempted']} "
              f"failed={res['failed']}")
        for m, v in res["metrics"].items():
            print(f"{name}: {m} {v['value']} {v['unit']}")
        results[name] = res
    if a.workload == "all":
        print(json.dumps(results))
    else:
        print(json.dumps(results[a.workload]))


if __name__ == "__main__":
    main()
