#!/usr/bin/env python3
"""Replica benchmark runner.

    python3 replbench/run.py --workload cow_catchup --seed 1 --seconds 20 --trace 0
    python3 replbench/run.py --all --seed 1 --seconds 20      # every workload, both modes

Builds the engine and the benchmark from source with sbt (once per source
state), then runs one workload in a fresh JVM and prints its JSON result as
the last line of stdout. Everything it writes stays under this directory:
`.build/` (classpath stamp), `.data/` (generated base tables), `.work/`
(per-run tables, removed after the run) and `.out/` (run records and spans).
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ["cow_catchup", "mor_live", "sql_read"]
BUILD_TIMEOUT_S = 850
RUN_TIMEOUT_S = 170
# A fixed heap, not pre-touched: a heap left to grow during the run made the
# open-loop latencies of runs of the same code about twice as spread.
HEAP = "2g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"[replbench] {msg}", file=sys.stderr)
    sys.exit(code)


def source_files():
    """Every file the build reads, relative to the checkout root."""
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    pdir = os.path.join(ROOT, "project")
    if os.path.isdir(pdir):
        files += [os.path.join(pdir, f) for f in os.listdir(pdir)
                  if f.endswith((".sbt", ".scala", ".properties"))]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    return sorted(files)


def stamp():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    return env


def build():
    """Compiles engine + benchmark; returns the runtime classpath."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        fail("no engine sources next to the benchmark (expected ../build.sbt and ../src/main/scala)")
    bdir = os.path.join(HERE, ".build")
    cp_file = os.path.join(bdir, "classpath")
    st = stamp()
    st_file = os.path.join(bdir, "stamp")
    if os.path.exists(cp_file) and os.path.exists(st_file) and open(st_file).read() == st:
        return open(cp_file).read().strip()
    os.makedirs(bdir, exist_ok=True)
    sbt = shutil.which("sbt") or fail("sbt not found on PATH")
    try:
        p = subprocess.run([sbt, "--batch", "-Dsbt.log.noformat=true", "compile",
                            "export Runtime/fullClasspath"],
                           cwd=HERE, env=sbt_env(), stdin=subprocess.DEVNULL,
                           capture_output=True, text=True, timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail("build timed out")
    if p.returncode != 0:
        sys.stderr.write(p.stdout[-4000:] + p.stderr[-4000:])
        fail("build failed")
    cps = [l.strip() for l in p.stdout.splitlines()
           if ".jar" in l and os.pathsep in l and not l.startswith("[")]
    if not cps:
        fail("build printed no classpath")
    with open(cp_file, "w") as f:
        f.write(cps[-1])
    with open(st_file, "w") as f:
        f.write(st)
    return cps[-1]


def commit_id():
    try:
        p = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                           text=True, timeout=10)
        if p.returncode == 0:
            return p.stdout.strip()
    except (OSError, subprocess.TimeoutExpired):
        pass
    return "tree-" + stamp()[:16]


def run_one(cp, workload, seed, seconds, trace):
    """Runs one workload in a fresh JVM; returns (exit code, last stdout line)."""
    work = os.path.join(HERE, ".work", f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-Duser.timezone=UTC",
           "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties")]
    for o in ADD_OPENS:
        cmd += ["--add-opens", f"{o}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "replbench.Main", "--workload", workload, "--seed", str(seed),
            "--seconds", str(seconds), "--trace", str(trace), "--work", work,
            "--data", os.path.join(HERE, ".data"), "--out", os.path.join(HERE, ".out"),
            "--commit", commit_id()]
    try:
        p = subprocess.run(cmd, cwd=work, stdin=subprocess.DEVNULL, stdout=subprocess.PIPE,
                           text=True, timeout=RUN_TIMEOUT_S)
        code, out = p.returncode, p.stdout
    except subprocess.TimeoutExpired as e:
        code, out = 124, ""
        print(f"[replbench] {workload} timed out after {RUN_TIMEOUT_S}s", file=sys.stderr)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = [l for l in out.splitlines() if l.strip()]
    return code, (lines[-1] if lines else "")


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawTextHelpFormatter)
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--all", action="store_true", help="run every workload, untraced then traced")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=20)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    if not a.all and not a.workload:
        fail("give --workload NAME or --all")
    cp = build()
    if not a.all:
        code, line = run_one(cp, a.workload, a.seed, a.seconds, a.trace)
        if line.startswith("{"):
            print(line)
        sys.exit(code)
    bad = False
    for w in WORKLOADS:
        for t in (0, 1):
            code, line = run_one(cp, w, a.seed, a.seconds, t)
            if code != 0 or not line.startswith("{"):
                print(f"{w} trace={t}: FAILED (exit {code})")
                bad = True
                continue
            r = json.loads(line)
            bad |= not r["correct"]
            print(f"{w} trace={t}: correct={r['correct']} attempted={r['attempted']} "
                  f"failed={r['failed']}")
            for k, v in r["metrics"].items():
                print(f"  {k} = {v['value']} {v['unit']}")
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
