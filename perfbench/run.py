#!/usr/bin/env python3
"""Benchmark entry point for the graft engine.

    python3 perfbench/run.py --workload <lookup|analytics> --seed <n> \
        --seconds <s> --trace <0|1>
    python3 perfbench/run.py --list

Run from the root of a checkout. The first run compiles the engine and the
harness (perfbench/build.sbt) with sbt and caches the classpath under
.bench_build/; later runs start the JVM directly. The last line of standard
output is the result: {"correct", "attempted", "failed", "metrics"}. A full
record (metadata, every op, and with --trace 1 the spans, jobs and actions)
is written under .bench_build/records/.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
BUILD = ROOT / ".bench_build"
SPEC = ROOT / "BENCHMARK.json"
DEADLINE_S = 175
BUILD_DEADLINE_S = 880  # the first run in a checkout builds

# Spark 4 on JDK 17 needs these outside spark-submit (as in the engine's build.sbt)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(2)


def source_files():
    """Every file the build reads: the engine's and the harness's."""
    roots = [ROOT / "src" / "main", HERE / "src" / "main"]
    files = [ROOT / "build.sbt", ROOT / "project" / "build.properties",
             HERE / "build.sbt", HERE / "project" / "build.properties"]
    for r in roots:
        files += sorted(p for p in r.rglob("*") if p.is_file())
    return files


def digest():
    h = hashlib.sha256()
    for p in source_files():
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = Path.home() / ".sbt" / "repositories"
    if repos.is_file():
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    return env


def classpath(deadline):
    """Compile if the sources changed since the cached build.

    Returns the classpath, the source digest and whether this call built.
    """
    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main" / "scala").is_dir():
        fail(f"engine sources not found under {ROOT}; run from a full checkout")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java must be on PATH")
    stamp = BUILD / "classpath.txt"
    want = digest()
    if stamp.is_file():
        have, _, cp = stamp.read_text().partition("\n")
        if have == want and cp.strip():
            return cp.strip(), want, False
    BUILD.mkdir(parents=True, exist_ok=True)
    print("[perfbench] building engine and harness", file=sys.stderr)
    try:
        r = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=HERE, env=sbt_env(), capture_output=True, text=True,
            timeout=max(30, deadline - time.monotonic()))
    except subprocess.TimeoutExpired:
        fail("build timed out")
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-6000:] + r.stderr[-3000:])
        fail(f"build failed (sbt exit {r.returncode})")
    lines = [l.strip() for l in r.stdout.splitlines()
             if l.strip() and not l.startswith("[") and ".jar" in l]
    if not lines:
        sys.stderr.write(r.stdout[-4000:])
        fail("sbt printed no classpath")
    cp = lines[-1]
    stamp.write_text(want + "\n" + cp + "\n")
    return cp, want, True


def commit():
    if shutil.which("git") and (ROOT / ".git").exists():
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                           capture_output=True, text=True)
        if r.returncode == 0:
            return r.stdout.strip()
    return "unknown"


def list_metrics(spec):
    for section in ("end_to_end", "per_layer"):
        print(f"# {section}")
        for m in spec[section]:
            print(f"{m['name']}\t{m['unit']}\t{m['better']}")


def main():
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--list", action="store_true", help="print every metric with its unit")
    a = ap.parse_args()
    start = time.monotonic()

    if not SPEC.is_file():
        fail(f"{SPEC.name} not found at the checkout root")
    spec = json.loads(SPEC.read_text())
    if a.list:
        list_metrics(spec)
        return
    names = [w["name"] for w in spec["workloads"]]
    if a.workload not in names or a.seed is None or a.seconds is None:
        fail(f"need --workload {{{'|'.join(names)}}} --seed <n> --seconds <s> --trace <0|1>")

    cp, sources, built = classpath(start + BUILD_DEADLINE_S)
    deadline = start + (BUILD_DEADLINE_S if built else DEADLINE_S)

    run_dir = BUILD / "run" / f"{a.workload}-{os.getpid()}"
    records = BUILD / "records"
    tmp = run_dir / "tmp"
    for d in (tmp, records):
        d.mkdir(parents=True, exist_ok=True)
    cmd = (["java", "-Xmx3g"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-Dspark.ui.enabled=false",
              f"-Dlog4j.configurationFile={HERE / 'log4j2.properties'}",
              f"-Djava.io.tmpdir={tmp}",
              f"-Dspark.local.dir={tmp}",
              f"-Dspark.sql.warehouse.dir={run_dir / 'warehouse'}",
              # the engine's stream scratch defaults to /dev/shm; a run may
              # write only inside its checkout, so it is pointed here
              f"-Dspark.graft.streamScratch={tmp}",
              f"-XX:ErrorFile={run_dir / 'hs_err_%p.log'}",
              "-cp", cp, "graftbench.Main",
              "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", str(a.trace),
              "--data", str(HERE / "data" / "sf0.01"),
              "--work", str(run_dir / "work"),
              "--expected", str(HERE / "expected" / "analytics.tsv"),
              "--record", str(records / f"{a.workload}-seed{a.seed}-trace{a.trace}.json")])
    env = dict(os.environ, PERFBENCH_COMMIT=commit(), PERFBENCH_SOURCES=sources)
    proc = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=subprocess.PIPE,
                            text=True, start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=max(10, deadline - time.monotonic()))
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        shutil.rmtree(run_dir, ignore_errors=True)
        fail("run timed out")
    shutil.rmtree(run_dir, ignore_errors=True)
    lines = [l for l in out.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines:
        sys.stderr.write(out[-4000:])
        fail(f"harness exited {proc.returncode}")
    result = json.loads(lines[-1])
    section = "per_layer" if a.trace else "end_to_end"
    want = {m["name"]: m["unit"] for m in spec[section]}
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    if got != want:
        fail(f"metrics differ from {SPEC.name} {section}: "
             f"missing {sorted(set(want) - set(got))}, extra {sorted(set(got) - set(want))}")
    for k, v in sorted(result["metrics"].items()):
        print(f"[perfbench] {k} = {v['value']} {v['unit']}", file=sys.stderr)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
