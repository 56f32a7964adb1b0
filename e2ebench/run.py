#!/usr/bin/env python3
"""Run one workload of the repo's end-to-end benchmark.

    python3 e2ebench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run it from the repository root. The first run builds the engine and the
harness from source with sbt (offline, against the Spark jars the engine's
own build uses) and caches the classpath under e2ebench/target; later runs
start the JVM directly. The harness (e2ebench.Main) generates the inputs
from the seed under e2ebench/.work, measures, checks every output, and
prints the result JSON as the last stdout line.

Exit codes: 0 all checks passed; 1 a check failed (the result line says
correct=false); 2 bad arguments or no engine sources; 3 the build failed;
4 the watchdog stopped a hung workload; 5 the harness died without a result.
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

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
WORKLOADS = ("serve_mixed", "datagen_batch", "lake_ingest")
# A workload that has not finished within watchdog_s() is hung: it is
# killed and the run fails by name instead of blocking the caller.
BUILD_TIMEOUT_S = 840
JVM_OPTS = [
    # the serial collector with a fixed young generation sizes the old
    # generation from what survives each full collection, so the resident
    # set follows what the program keeps live rather than a concurrent
    # collector's heap-sizing heuristics
    "-Xmx2g", "-XX:+UseSerialGC", "-Xmn256m",
    "-Dspark.ui.enabled=false",
] + [
    f"--add-opens={m}=ALL-UNNAMED"
    for m in (
        "java.base/java.lang", "java.base/java.lang.invoke",
        "java.base/java.lang.reflect", "java.base/java.io",
        "java.base/java.net", "java.base/java.nio",
        "java.base/java.util", "java.base/java.util.concurrent",
        "java.base/java.util.concurrent.atomic",
        "java.base/sun.nio.ch", "java.base/sun.nio.cs",
        "java.base/sun.security.action", "java.base/sun.util.calendar",
    )
]


def watchdog_s(seconds, trace):
    """Seconds a run may take: start-up, set-up and checks, plus each
    measured phase (one untraced, two more when traced), where a phase
    lasts --seconds or one whole datagen pass, whichever is longer."""
    phases = 3 if trace else 1
    return 120 + phases * max(seconds, 45)


def fail(code, msg):
    print(f"e2ebench: {msg}", file=sys.stderr)
    sys.exit(code)


def sources():
    """Every file the build reads, in a stable order."""
    files = [BENCH / "build.sbt", BENCH / "project" / "build.properties"]
    for top in (ROOT / "src" / "main", BENCH / "src" / "main"):
        files += sorted(p for p in top.rglob("*") if p.is_file())
    return files


def stamp():
    h = hashlib.sha256()
    for p in sources():
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    opts = ["-Dsbt.offline=true", "-Dsbt.server.forcestart=false", "-Xmx2g"]
    repos = Path.home() / ".sbt" / "repositories"
    if repos.is_file():
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join([env.get("SBT_OPTS", "")] + opts).strip()
    return env


def classpath():
    """The harness classpath, building first when any source changed."""
    cache = BENCH / "target" / "e2ebench-classpath.json"
    want = stamp()
    if cache.is_file():
        saved = json.loads(cache.read_text())
        if saved.get("stamp") == want:
            return saved["classpath"]
    log = BENCH / "target" / "build.log"
    log.parent.mkdir(parents=True, exist_ok=True)
    with open(log, "w") as out:
        try:
            proc = subprocess.run(
                ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                 "export Runtime/fullClasspath"],
                cwd=BENCH, env=sbt_env(), stdout=subprocess.PIPE, stderr=out,
                stdin=subprocess.DEVNULL, text=True, timeout=BUILD_TIMEOUT_S,
                start_new_session=True)
        except subprocess.TimeoutExpired:
            fail(3, f"build exceeded {BUILD_TIMEOUT_S} s (log: {log})")
        out.write(proc.stdout)
    cp = [ln for ln in proc.stdout.splitlines()
          if ":" in ln and "classes" in ln and not ln.startswith("[")]
    if proc.returncode != 0 or not cp:
        fail(3, f"build failed (exit {proc.returncode}, log: {log})")
    cache.write_text(json.dumps({"stamp": want, "classpath": cp[-1].strip()}))
    return cp[-1].strip()


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args()
    if a.seconds < 1:
        fail(2, "--seconds must be at least 1")
    if not (ROOT / "src" / "main" / "scala" / "graft").is_dir():
        fail(2, f"engine sources not found under {ROOT / 'src' / 'main' / 'scala'}")

    cp = classpath()
    work = BENCH / ".work" / f"run-{a.workload}-{a.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    cmd = ["java", *JVM_OPTS, f"-Djava.io.tmpdir={work / 'tmp'}", "-cp", cp,
           "e2ebench.Main", "--workload", a.workload, "--seed", str(a.seed),
           "--seconds", str(a.seconds), "--trace", a.trace, "--work", str(work)]
    log = BENCH / ".work" / f"{a.workload}-{a.seed}.log"
    limit = watchdog_s(a.seconds, a.trace == "1")
    t0 = time.time()
    try:
        with open(log, "w") as err:
            proc = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE, stderr=err,
                                    stdin=subprocess.DEVNULL, text=True,
                                    start_new_session=True)
            try:
                out, _ = proc.communicate(timeout=limit)
            except subprocess.TimeoutExpired:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
                fail(4, f"workload {a.workload} hung: watchdog stopped it after "
                        f"{limit} s (log: {log})")
    finally:
        shutil.rmtree(work, ignore_errors=True)

    lines = [ln for ln in out.splitlines() if ln.strip()]
    try:
        result = json.loads(lines[-1])
        assert set(result) == {"correct", "attempted", "failed", "metrics"}
    except (IndexError, ValueError, AssertionError):
        fail(5, f"workload {a.workload} exited {proc.returncode} after "
                f"{time.time() - t0:.0f} s without a result (log: {log})")
    for ln in lines:
        print(ln)
    if proc.returncode != 0 or not result["correct"]:
        print(f"e2ebench: workload {a.workload}: checks failed (log: {log})", file=sys.stderr)
        sys.exit(1)


if __name__ == "__main__":
    main()
