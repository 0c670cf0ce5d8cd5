#!/usr/bin/env python3
"""graft benchmark: builds the library with the benchmark, writes the
workload's inputs for a seed (once), and runs one measured JVM.

    python3 perfbench/run.py --workload sketch_build --seed 1 --seconds 12 --trace 0
    python3 perfbench/run.py --self-test

Run from the root of the repository. The last line of standard output is
the result JSON; progress goes to standard error.
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

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
WORK = os.path.join(BENCH, ".work")
TMP = os.path.join(WORK, "tmp")
WORKLOADS = ("sketch_build", "sketch_probe")
JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 870

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def sources():
    """Every file the build reads, in a stable order."""
    out = []
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src")):
        for d, _, fs in os.walk(base):
            out += [os.path.join(d, f) for f in fs]
    out += [os.path.join(BENCH, "build.sbt"), os.path.join(BENCH, "project", "build.properties")]
    return sorted(out)


def digest(paths):
    h = hashlib.sha256()
    for p in paths:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def run_proc(cmd, timeout, cwd=None, env=None, capture=False):
    """Runs cmd in its own process group; kills the group on timeout."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, start_new_session=True,
                         stdout=subprocess.PIPE if capture else sys.stderr,
                         stderr=sys.stderr, text=True)
    try:
        out, _ = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise RuntimeError(f"timed out after {timeout}s: {cmd[:3]}")
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise
    return p.returncode, out


def build():
    """Compiles the library plus the benchmark (once per source digest) and
    returns (runtime classpath, source digest)."""
    stamp = digest(sources())
    cp_file = os.path.join(WORK, f"classpath-{stamp}.txt")
    if os.path.exists(cp_file):
        with open(cp_file) as f:
            return f.read().strip(), stamp
    log(f"building (source digest {stamp})")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    os.makedirs(TMP, exist_ok=True)
    opts = ["-Dsbt.offline=true", "-Dsbt.boot.lock=false", "-Dsbt.server.forcestart=false",
            "-Xmx2g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={TMP}"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join([env.get("SBT_OPTS", "")] + opts).strip()
    t0 = time.time()
    code, out = run_proc(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                          "export Runtime/fullClasspath"],
                         BUILD_TIMEOUT_S, cwd=BENCH, env=env, capture=True)
    if code != 0:
        sys.stderr.write(out or "")
        raise RuntimeError(f"build failed with exit code {code}")
    cps = [l.strip() for l in out.splitlines()
           if "scala-2.13" in l and os.pathsep in l and not l.startswith("[")]
    if not cps:
        raise RuntimeError("build printed no classpath")
    os.makedirs(WORK, exist_ok=True)
    for old in os.listdir(WORK):
        if old.startswith("classpath-"):
            os.remove(os.path.join(WORK, old))
    with open(cp_file, "w") as f:
        f.write(cps[-1])
    log(f"built in {time.time() - t0:.1f}s")
    return cps[-1], stamp


def java(cp, main, args, timeout):
    os.makedirs(TMP, exist_ok=True)
    # a fixed heap: a growing one makes the early passes of a run slower
    cmd = ["java", "-Xms3g", "-Xmx3g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={TMP}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, main] + args
    return run_proc(cmd, timeout, cwd=BENCH, capture=True)


def data_dir(workload, seed):
    """Where the inputs of (workload, seed) live; the measuring JVM writes
    them there on the first run of the seed. The key covers the generator's
    sources, so a changed generator writes new inputs."""
    gen_src = [os.path.join(BENCH, "src", "main", "scala", "graftbench", "Gen.scala"),
               os.path.join(ROOT, "src", "main", "scala", "graft", "spark", "io", "PagesGen.scala")]
    key = f"{workload}-seed{seed}-{digest([p for p in gen_src if os.path.exists(p)])}"
    return os.path.join(WORK, "data", key)


def measure(cp, stamp, workload, seed, seconds, trace):
    data = data_dir(workload, seed)
    # exact answers depend on the inputs and the program: kept per (data, build)
    truth = os.path.join(WORK, "truth", f"{os.path.basename(data)}-{stamp}.bin")
    run_dir = os.path.join(WORK, "run")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    args = ["--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
            "--trace", str(trace), "--data", data, "--work", run_dir,
            "--traces", os.path.join(WORK, "traces"), "--truth", truth]
    code, out = java(cp, "graftbench.Main", args, JVM_TIMEOUT_S)
    shutil.rmtree(run_dir, ignore_errors=True)
    lines = [l for l in (out or "").splitlines() if l.strip()]
    if code != 0 or not lines:
        raise RuntimeError(f"benchmark JVM failed with exit code {code}")
    return lines, json.loads(lines[-1])


def self_test(cp):
    code, out = java(cp, "graftbench.SelfTest", ["--work", os.path.join(WORK, "selftest")],
                     JVM_TIMEOUT_S * 3)
    sys.stdout.write(out or "")
    if code != 0:
        raise RuntimeError("self-test failed")
    names = json.loads(out.splitlines()[-1])
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    declared = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    if declared != names:
        diff = set(declared.items()) ^ set(names.items())
        raise RuntimeError(f"BENCHMARK.json metrics differ from the benchmark's: {sorted(diff)}")
    if [w["name"] for w in spec["workloads"]] != list(WORKLOADS):
        raise RuntimeError("BENCHMARK.json workloads differ from the benchmark's")
    print("self-test passed")


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=12)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--self-test", action="store_true")
    a = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        log(f"no graft sources under {ROOT}; run from the root of the repository")
        return 2
    if shutil.which("sbt") is None or shutil.which("java") is None:
        log("sbt and java are required")
        return 2
    try:
        cp, stamp = build()
        if a.self_test:
            self_test(cp)
            return 0
        if a.workload is None:
            ap.error("--workload is required")
        lines, _ = measure(cp, stamp, a.workload, a.seed, a.seconds, a.trace)
    except Exception as e:  # reported, never printed as a result
        log(f"error: {e}")
        return 1
    for l in lines:
        print(l)
    return 0


if __name__ == "__main__":
    sys.exit(main())
