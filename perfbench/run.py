#!/usr/bin/env python3
"""End-to-end benchmark of the graft query server.

Usage, from the repository root:

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Checks the fixture tables under perfbench/fixtures against their SHA-256
sums, builds the repository and the benchmark with sbt (skipped when no
source changed since the last build), then runs the benchmark JVM. Everything the
build and the run write goes under `.bench_build/` and `target/` dirs of
the checkout. The last line of standard output is the result object; the
line before it holds provenance and the workload's own figures. See
perfbench/README.md.
"""
import argparse
import hashlib
import os
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".bench_build")
STAMP = os.path.join(OUT, "classpath.txt")
FIXTURES = os.path.join(HERE, "fixtures")
WORKLOADS = ["wide_fetch", "catalog_rw"]
RUN_LIMIT_S = 170      # a run must end within 180 s
BUILD_LIMIT_S = 850    # the first run of a checkout builds
JAVA_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
              "java.net", "java.nio", "java.util", "java.util.concurrent",
              "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
              "sun.security.action", "sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def sources():
    """Every file the build reads, in a stable order."""
    files = [os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")):
        for d, _, names in sorted(os.walk(base)):
            files += [os.path.join(d, n) for n in sorted(names)]
    return files


def tree_hash():
    h = hashlib.sha256()
    for f in sources():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build(tree):
    """Returns (runtime classpath, whether it compiled): compiles only when
    the sources changed since the last build."""
    if os.path.exists(STAMP):
        with open(STAMP) as fh:
            stamp_tree, cp = fh.read().split("\n", 1)
        if stamp_tree == tree:
            return cp.strip(), False
    log("building (sbt compile)")
    t0 = time.time()
    r = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=HERE, stdout=subprocess.PIPE, stderr=sys.stderr, text=True,
        timeout=BUILD_LIMIT_S, start_new_session=True,
        env={"COURSIER_MODE": "offline", **os.environ})
    if r.returncode != 0:
        sys.stderr.write(r.stdout)
        raise SystemExit(f"[perfbench] build failed (exit {r.returncode})")
    cp = [ln for ln in r.stdout.splitlines() if "scala-2.13" in ln and ":" in ln][-1].strip()
    os.makedirs(OUT, exist_ok=True)
    with open(STAMP, "w") as fh:
        fh.write(tree + "\n" + cp + "\n")
    log(f"built in {time.time() - t0:.0f}s")
    return cp, True


def check_fixtures():
    """The fixture tables are byte for byte the ones their sums name."""
    with open(os.path.join(FIXTURES, "SHA256SUMS")) as fh:
        for line in fh:
            want, name = line.split()
            with open(os.path.join(FIXTURES, name), "rb") as f:
                if hashlib.sha256(f.read()).hexdigest() != want:
                    raise SystemExit(f"[perfbench] fixture {name} does not match its sum")


def commit_id(tree):
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                           text=True, timeout=10)
        if r.returncode == 0:
            return r.stdout.strip()
    except (OSError, subprocess.SubprocessError):
        pass
    return "tree-" + tree[:16]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=["0", "1"])
    ap.add_argument("--record-reference", action="store_true",
                    help="rewrite the operator outputs in perfbench/reference/")
    a = ap.parse_args()
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        raise SystemExit("[perfbench] no repository sources next to perfbench/")

    t_start = time.time()
    check_fixtures()
    tree = tree_hash()
    cp, built = build(tree)
    os.makedirs(os.path.join(OUT, "tmp"), exist_ok=True)
    cmd = (["java"] + [x for p in JAVA_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
           + ["-Xms3g", "-Xmx3g", "-XX:+AlwaysPreTouch", "-Dspark.ui.enabled=false",
              f"-Djava.io.tmpdir={os.path.join(OUT, 'tmp')}",
              "-cp", cp, "graft.perfbench.Main",
              "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
              "--trace", a.trace, "--data", FIXTURES, "--root", OUT, "--commit", commit_id(tree),
              "--build", tree[:16]]
           + (["--record-reference"] if a.record_reference else []))
    limit = (BUILD_LIMIT_S + RUN_LIMIT_S if built else RUN_LIMIT_S) - (time.time() - t_start)
    p = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=sys.stderr, text=True,
                         start_new_session=True)
    try:
        out, _ = p.communicate(timeout=max(10.0, limit))
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise SystemExit("[perfbench] run exceeded its time limit")
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise
    if p.returncode != 0:
        sys.stderr.write(out)
        raise SystemExit(f"[perfbench] benchmark JVM failed (exit {p.returncode})")
    lines = [ln for ln in out.splitlines() if ln.strip()]
    print("\n".join(lines[-2:]), flush=True)


if __name__ == "__main__":
    main()
