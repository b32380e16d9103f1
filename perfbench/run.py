#!/usr/bin/env python3
"""Wire-level benchmark of graft: one command, one JSON line.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the engine and the
benchmark from source with sbt (perfbench/build.sbt), generates the
fixture tables, builds the ClickBench `hits` fixture in a warehouse the
benchmark owns, and computes the expected answers with DuckDB. All of
that is cached under .bench_build/perfbench/ and reused by later runs.
Each run then starts one JVM (graft.perfbench.Main) that sets up a Spark
session and the engine's HTTP and native servers, drives one workload
for --seconds, checks every answer and prints the result as the last
line of stdout. --trace 1 runs the traced per-layer replay instead.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ["clickbench-ingest-http", "short-mixed-native-ops"]
# a run must end within 180 s; the JVM gets what is left of this budget
RUN_BUDGET_S = 170
BUILD_BUDGET_S = 800

JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


BUILD_INPUTS = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
                os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt"),
                os.path.join(ROOT, "project", "build.properties"),
                os.path.join(HERE, "project", "build.properties")]


def stamp(tops):
    """Hash of the files under `tops`, so a changed tree is rebuilt."""
    h = hashlib.sha256()
    for top in tops:
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for p in paths:
            h.update(p[len(ROOT):].encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build(state):
    """Compile with sbt once per source tree; returns the JVM classpath."""
    want = stamp(BUILD_INPUTS)
    cp_file = os.path.join(state, "classpath.txt")
    if os.path.exists(cp_file):
        with open(cp_file) as f:
            saved, cp = f.read().split("\n", 1)
        if saved == want:
            return cp.strip()
    env = dict(os.environ, COURSIER_MODE="offline")
    # no hsperfdata file in /tmp: a run writes only inside its checkout
    opts = ["-Xmx2g", "-XX:-UsePerfData"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true",
                 f"-Dsbt.repository.config={repos}", "-Dsbt.offline=true"]
    env["SBT_OPTS"] = " ".join(opts)
    log("building engine + benchmark with sbt")
    t0 = time.time()
    p = subprocess.run(
        ["sbt", "-batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=BUILD_BUDGET_S)
    out = p.stdout.strip().splitlines()
    if p.returncode != 0 or not out:
        sys.stderr.write(p.stdout[-4000:])
        raise SystemExit("perfbench: build failed")
    cp = out[-1].strip()
    log(f"build done in {time.time() - t0:.1f}s")
    with open(cp_file, "w") as f:
        f.write(want + "\n" + cp)
    return cp


def done(path, want):
    try:
        with open(os.path.join(path, "DONE")) as f:
            return f.read() == want
    except OSError:
        return False


def mark(path, want):
    with open(os.path.join(path, "DONE"), "w") as f:
        f.write(want)


def java_cmd(cp, state, main_args):
    # a fixed heap and young generation keep the peak RSS a function of
    # what the engine retains, not of when the collector grew the heap
    return (["java", "-Xms3g", "-Xmx3g", "-Xmn1g", "-XX:-UsePerfData",
             f"-Djava.io.tmpdir={state}/tmp",
             "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
            + [x for p in JDK_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
            + ["-cp", cp, "graft.perfbench.Main"] + main_args)


def prepare(cp, state, deadline):
    """Fixture tables, the hits fixture and expected answers, once per
    fixture generator and engine build."""
    sys.path.insert(0, HERE)
    import fixtures
    data = os.path.join(state, "data")
    data_stamp = stamp([os.path.join(HERE, "fixtures.py")])
    if not done(data, data_stamp):
        log("generating fixture tables")
        shutil.rmtree(data, ignore_errors=True)
        fixtures.generate(data)
        mark(data, data_stamp)
    prepared = os.path.join(state, "prepared")
    prep_stamp = data_stamp + stamp(BUILD_INPUTS)
    if not done(prepared, prep_stamp):
        log("building hits fixture and dumping statement texts")
        t0 = time.time()
        shutil.rmtree(prepared, ignore_errors=True)
        os.makedirs(prepared)
        run_jvm(cp, state, ["--mode", "prepare", "--state", state],
                deadline, capture=False)
        fixtures.expected(data, prepared, prepared)
        # reported in every run record, apart from setup_s
        with open(os.path.join(prepared, "cold_build_s"), "w") as f:
            f.write(f"{time.time() - t0:.3f}")
        mark(prepared, prep_stamp)
    return prep_stamp


def run_jvm(cp, state, args, deadline, capture=True):
    timeout = max(10.0, deadline - time.time())
    p = subprocess.Popen(java_cmd(cp, state, args), cwd=ROOT,
                         stdout=subprocess.PIPE if capture else sys.stderr,
                         text=True)
    try:
        out, _ = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        p.kill()
        p.wait()
        raise SystemExit("perfbench: JVM exceeded its time budget")
    if p.returncode != 0:
        raise SystemExit(f"perfbench: JVM exited with code {p.returncode}")
    return out


def commit(tree):
    """The git commit when the checkout is a repository, else a hash of
    the sources and fixture generator."""
    try:
        p = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, text=True,
                           stdout=subprocess.PIPE, stderr=subprocess.DEVNULL)
        if p.returncode == 0:
            return p.stdout.strip()
    except OSError:
        pass
    return "tree-" + hashlib.sha256(tree.encode()).hexdigest()[:16]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        raise SystemExit("perfbench: engine sources not found beside perfbench/")
    t0 = time.time()
    state = os.path.join(ROOT, ".bench_build", "perfbench")
    os.makedirs(os.path.join(state, "tmp"), exist_ok=True)
    cp = build(state)
    # a cold first run (build + fixtures) gets a longer budget
    tree = prepare(cp, state, t0 + 850)
    cold = time.time() - t0 > 5
    deadline = (time.time() if cold else t0) + RUN_BUDGET_S
    out = run_jvm(cp, state, [
        "--mode", "trace" if a.trace else "run", "--state", state,
        "--workload", a.workload, "--seed", str(a.seed),
        "--seconds", str(a.seconds), "--commit", commit(tree),
        "--deadline-ms", str(int(deadline * 1000))], deadline)
    lines = [ln for ln in out.splitlines() if ln.strip()]
    if not lines:
        raise SystemExit("perfbench: no result from the JVM")
    for ln in lines[:-1]:
        print(ln)
    result = json.loads(lines[-1])
    print(json.dumps(result, separators=(",", ":")), flush=True)


if __name__ == "__main__":
    main()
