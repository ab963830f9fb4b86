#!/usr/bin/env python3
"""Run one benchmark workload against graft, built from this checkout.

    python3 perfbench/run.py --workload pagerank_pipeline --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --selftest

Run from the root of the repository. The first run compiles graft's sources
together with the benchmark driver (sbt, offline) and caches the classpath
under perfbench/out/; later runs reuse it while the sources are unchanged.

Prints every metric with its unit, then, as the last line, one JSON object
with the keys correct, attempted, failed and metrics. With --trace 0 the
metrics are BENCHMARK.json's end_to_end list, with --trace 1 its per_layer
list. The full record of the run (samples, spans, failures, box) is written
to perfbench/out/<workload>-seed<seed>-trace<t>.json.
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

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(HERE, "out")
CLASSPATH = os.path.join(OUT, "classpath.txt")
WORKLOADS = ("pagerank_pipeline", "triangle_census", "release_increment")
RUN_LIMIT_S = 175
HEAP = "3g"
YOUNG = "512m"

# Spark 4 on JDK 17 needs these outside spark-submit (the repo's build.sbt
# passes the same list to its forked runs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_files():
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    return sorted(files)


def source_digest():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def spark_home():
    """SPARK_HOME, else the first Spark installation on the PATH: a
    bin/spark-submit with the distribution's jars/ directory beside it (a
    pip-installed pyspark launcher has none)."""
    if os.environ.get("SPARK_HOME"):
        return os.environ["SPARK_HOME"]
    for d in os.environ.get("PATH", "").split(os.pathsep):
        submit = os.path.join(d, "spark-submit")
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
        if os.path.isfile(submit) and os.path.isdir(os.path.join(home, "jars")):
            return home
    fail("no Spark installation found: set SPARK_HOME")


def build(digest):
    """Compile graft + the benchmark unless the cached classpath matches."""
    if os.path.exists(CLASSPATH):
        with open(CLASSPATH) as fh:
            stamp, cp = fh.read().split("\n")[:2]
        if stamp == digest:
            return cp
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true -Xmx2g")
    env.setdefault("SPARK_HOME", spark_home())
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "export Runtime/fullClasspath"]
    print("perfbench: building (sbt) ...", file=sys.stderr)
    try:
        p = subprocess.run(cmd, cwd=HERE, env=env, capture_output=True, text=True,
                           timeout=840, stdin=subprocess.DEVNULL)
    except subprocess.TimeoutExpired:
        fail("build timed out", 3)
    lines = [l for l in p.stdout.splitlines() if os.pathsep in l and "classes" in l]
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stdout[-4000:] + p.stderr[-4000:])
        fail("build failed", 3)
    cp = lines[-1].strip()
    os.makedirs(OUT, exist_ok=True)
    with open(CLASSPATH, "w") as fh:
        fh.write(f"{digest}\n{cp}\n")
    return cp


def java(cp, main, args, log, deadline):
    """Run a JVM main with its output in `log`; kill it at the deadline."""
    tmp = os.path.join(OUT, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # A fixed young generation keeps peak RSS a measure of what the program
    # retains, not of how far G1's adaptive sizing happened to grow eden.
    opts = [f"-Xmx{HEAP}", f"-Xmn{YOUNG}", f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false"]
    for p in ADD_OPENS:
        opts += ["--add-opens", f"{p}=ALL-UNNAMED"]
    # Two malloc arenas keep the JVM's native memory, and so its peak RSS,
    # from varying with how many threads happened to allocate at once.
    env = dict(os.environ, MALLOC_ARENA_MAX="2")
    with open(log, "w") as fh:
        proc = subprocess.Popen(["java", *opts, "-cp", cp, main, *args], cwd=ROOT, env=env,
                                stdout=fh, stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL,
                                start_new_session=True)
        try:
            return proc.wait(timeout=max(5.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            return None


def commit():
    try:
        p = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                           text=True, timeout=10, stdin=subprocess.DEVNULL)
        return p.stdout.strip() if p.returncode == 0 else None
    except OSError:
        return None


def declared(trace):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    return [m["name"] for m in bench["per_layer" if trace else "end_to_end"]]


def main():
    t_start = time.monotonic()
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    if not a.selftest and (a.workload is None or a.seed is None or a.seconds is None):
        ap.error("--workload, --seed and --seconds are required")
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        fail("graft's sources (src/main/scala) are not in this checkout")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java are needed to build and run the benchmark")

    digest = source_digest()
    cp = build(digest)
    os.makedirs(OUT, exist_ok=True)
    if a.selftest:
        log = os.path.join(OUT, "selftest.log")
        code = java(cp, "perfbench.SelfTest", [], log, time.monotonic() + 600)
        with open(log) as fh:
            sys.stdout.write("".join(l for l in fh if l.startswith("selftest")))
        sys.exit(1 if code != 0 else 0)

    # The run limit counts from here: a first run also pays for the build.
    deadline = time.monotonic() + RUN_LIMIT_S
    names = declared(a.trace)
    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    result = os.path.join(OUT, f"{tag}.json")
    log = os.path.join(OUT, f"{tag}.log")
    work = os.path.join(OUT, f"work-{tag}-{os.getpid()}")
    if os.path.exists(result):
        os.remove(result)
    args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--work", work, "--out", result,
            "--digests", os.path.join(OUT, "digests")]
    try:
        code = java(cp, "perfbench.Main", args, log, deadline)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if code != 0 or not os.path.exists(result):
        with open(log) as fh:
            sys.stderr.write("".join(fh.readlines()[-40:]))
        fail("the run timed out" if code is None else f"the run exited with {code}", 4)

    with open(result) as fh:
        rec = json.load(fh)
    rec["box"].update({"commit": commit(), "source_sha256": digest, "seed": a.seed,
                       "elapsed_s": round(time.monotonic() - t_start, 3)})
    with open(result, "w") as fh:
        json.dump(rec, fh, indent=1)

    box = rec["box"]
    print(f"# {a.workload} seed={a.seed} trace={a.trace} nproc={box['nproc']} "
          f"heap={box['heap_max_mb']}MB jdk={box['jdk']} spark={box['spark']} "
          f"load1={box['load1_start']}->{box['load1_end']} commit={box['commit']}")
    for name, m in rec["metrics"].items():
        if m["n"] > 0:
            print(f"{name} {m['value']} {m['unit']} n={m['n']}")
    for f in rec["failures"]:
        print(f"FAILED {f['span']} ({f['phase']} {f['body']}): {f['error']}: {f['message']}")
    metrics = {}
    for name in names:
        m = rec["metrics"].get(name)
        if m is not None and m["value"] is not None:
            metrics[name] = {"value": m["value"], "unit": m["unit"]}
    correct = rec["failed"] == 0 and len(metrics) == len(names)
    print(json.dumps({"correct": correct, "attempted": rec["attempted"],
                      "failed": rec["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()
