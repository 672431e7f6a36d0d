#!/usr/bin/env python3
"""Engine benchmark: runs one seeded workload against the zebraspark engine.

    python3 perfbench/run.py --workload ingest_mixed --seed 1 --seconds 15 --trace 0

Run it from the root of a checkout. The first run builds the library and
the benchmark from source with sbt (perfbench/build.sbt); later runs reuse
the build in .bench_build/ until a source file changes. Each run gets its
own directory under .bench_build/runs/, deleted when the run ends. The last
line of standard output is the run's result as one JSON object; everything
else (build log, Spark log, box condition) goes to standard error.
"""

import argparse
import json
import os
import shutil
import subprocess
import sys
import time

WORKLOADS = ("ingest_mixed", "neardup_stream")
BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
OUT = os.path.join(ROOT, ".bench_build")
CLASSPATH = os.path.join(OUT, "classpath.txt")
HEAP = "3g"
RUN_LIMIT_S = 170
JDK_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def sources():
    """Every file the build reads: the library's and the benchmark's."""
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(BENCH, "build.sbt")]
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src")):
        for d, _, names in os.walk(top):
            files += [os.path.join(d, n) for n in names]
    return files


def build():
    """Compiles with sbt unless the recorded classpath is newer than every
    source; returns the runtime classpath."""
    if not os.path.isfile(os.path.join(ROOT, "build.sbt")):
        sys.exit("perfbench: no build.sbt at the checkout root; run from the repository root")
    if os.path.isfile(CLASSPATH):
        stamp = os.path.getmtime(CLASSPATH)
        if all(os.path.getmtime(f) < stamp for f in sources() if os.path.exists(f)):
            with open(CLASSPATH) as f:
                return f.read().strip()
    os.makedirs(OUT, exist_ok=True)
    env = dict(os.environ)
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env and os.path.isfile(repos):
        env["SBT_OPTS"] = (f"-Dsbt.override.build.repos=true -Dsbt.repository.config={repos} "
                           "-Dsbt.offline=true -Xmx2g")
    tmp = os.path.join(OUT, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env["SBT_OPTS"] = env.get("SBT_OPTS", "") + f" -Djna.tmpdir={tmp} -Djava.io.tmpdir={tmp}"
    env.setdefault("COURSIER_MODE", "offline")
    log("building library and benchmark with sbt")
    t0 = time.time()
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
        cwd=BENCH, env=env, stdout=subprocess.PIPE, stderr=sys.stderr, text=True,
        stdin=subprocess.DEVNULL, timeout=800)
    lines = proc.stdout.splitlines()
    # `export` prints the classpath as the one line without a log prefix
    cps = [l.strip() for l in lines if l.strip() and not l.startswith("[")]
    sys.stderr.write("".join(l + "\n" for l in lines if l.startswith("[")))
    if proc.returncode != 0:
        sys.exit(f"perfbench: sbt build failed with code {proc.returncode}")
    if not cps:
        sys.exit("perfbench: sbt printed no classpath")
    cp = cps[-1]
    with open(CLASSPATH, "w") as f:
        f.write(cp + "\n")
    log(f"built in {time.time() - t0:.1f} s")
    return cp


def box():
    """The condition of the machine at the start of a run."""
    others = 0
    for pid in os.listdir("/proc"):
        if pid.isdigit():
            try:
                with open(f"/proc/{pid}/comm") as f:
                    others += f.read().strip() == "java"
            except OSError:
                pass
    return {"nproc": len(os.sched_getaffinity(0)), "loadavg": list(os.getloadavg()),
            "other_jvms": others}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    cp = build()
    cond = box()
    cond.update(workload=a.workload, seed=a.seed, trace=a.trace, time=time.time())
    log("box " + json.dumps(cond))
    with open(os.path.join(OUT, "box.jsonl"), "a") as f:
        f.write(json.dumps(cond) + "\n")

    work = os.path.join(OUT, "runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    traces = os.path.join(OUT, "traces")
    os.makedirs(traces, exist_ok=True)
    result = os.path.join(work, "result.json")
    cmd = ["java", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    cmd += [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in JDK_OPENS]
    cmd += ["-cp", cp, "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--cores", str(cond["nproc"]),
            "--work", work, "--out", result,
            "--spans", os.path.join(traces, f"{a.workload}-{a.seed}.jsonl")]
    # Spark prefers this variable over spark.local.dir; keep its scratch in the run
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=sys.stderr, stderr=sys.stderr,
                            stdin=subprocess.DEVNULL)
    try:
        code = proc.wait(timeout=RUN_LIMIT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        code = None
    try:
        with open(result) as f:
            out = json.loads(f.read())
    except (OSError, ValueError):
        out = None
    shutil.rmtree(work, ignore_errors=True)
    if code != 0 or out is None:
        sys.exit(f"perfbench: {a.workload} run ended with code {code} and no result")
    print(json.dumps(out), flush=True)


if __name__ == "__main__":
    main()
