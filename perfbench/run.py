"""Benchmark entry point. Run from the repository root:

    python3 perfbench/run.py --workload mr_corpus --seed 1 --seconds 10 --trace 0

1. builds the program and the harness from source with sbt (once per
   source state; the classpath is cached under .bench_build/);
2. generates the workload's inputs from the seed (perfbench/gen.py);
3. runs the harness (perfbench.Main) in one JVM and prints its result
   JSON as the last line of stdout.

Everything it writes stays under .bench_build/ and .bench_run/ in the
current directory. Exit code 0 only with a complete, validated result.
"""

import argparse
import fcntl
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import gen  # noqa: E402

ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
RUNS = os.path.join(ROOT, ".bench_run")
JVM_TIMEOUT_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(code)


def source_stamp():
    """Hash of every file the build reads."""
    h = hashlib.sha256()
    tops = ["build.sbt", os.path.join("project", "build.properties"),
            os.path.join("src", "main"), os.path.join("perfbench", "build.sbt"),
            os.path.join("perfbench", "project", "build.properties"),
            os.path.join("perfbench", "src")]
    for top in tops:
        path = os.path.join(ROOT, top)
        files = [path] if os.path.isfile(path) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(path) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser(os.path.join("~", ".sbt", "repositories"))
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    return env


def classpath():
    """Compiles the program and the harness if the sources changed since
    the last build; returns the runtime classpath."""
    for need in ("build.sbt", os.path.join("src", "main", "scala", "graft")):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"no {need} here: run from the root of a checkout of the repository")
    os.makedirs(BUILD, exist_ok=True)
    cp_file, stamp_file = os.path.join(BUILD, "classpath.txt"), os.path.join(BUILD, "stamp")
    with open(os.path.join(BUILD, "lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        stamp = source_stamp()
        if os.path.exists(cp_file) and os.path.exists(stamp_file):
            with open(stamp_file) as f:
                if f.read() == stamp:
                    with open(cp_file) as f:
                        return f.read()
        t0 = time.time()
        print("[perfbench] building with sbt ...", file=sys.stderr)
        out = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
             "export perfbench/Runtime/fullClasspath"],
            cwd=os.path.join(ROOT, "perfbench"), env=sbt_env(), stdin=subprocess.DEVNULL,
            stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True, timeout=840)
        lines = out.stdout.strip().splitlines()
        cp = lines[-1].strip() if lines else ""
        if out.returncode != 0 or "perfbench" not in cp or not all(
                os.path.exists(p) for p in cp.split(os.pathsep)):
            errors = [ln for ln in lines if ln.startswith("[error]")]
            print("\n".join(errors[:40] or lines[-40:]), file=sys.stderr)
            fail(f"build failed (sbt exit {out.returncode})")
        print(f"[perfbench] built in {time.time() - t0:.1f} s", file=sys.stderr)
        with open(cp_file, "w") as f:
            f.write(cp)
        with open(stamp_file, "w") as f:
            f.write(stamp)
        return cp


def expected_metrics(trace):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    return [m["name"] for m in bench["per_layer" if trace else "end_to_end"]]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(gen.PARAMS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], required=True)
    a = ap.parse_args()

    cp = classpath()
    work = os.path.join(RUNS, f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    try:
        data = os.path.join(work, "data")
        m = gen.generate(a.workload, a.seed, data)
        print(f"[perfbench] inputs {m['digest'][:16]} rows {m['rows']}", file=sys.stderr)
        java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
            if os.environ.get("JAVA_HOME") else "java"
        # Lower C2 thresholds: the driver-side code a pass runs (planning,
        # the streaming engine) is invoked a few hundred times per pass, so
        # with the defaults the JIT is still compiling ten passes in.
        cmd = [java, "-Xms3g", "-Xmx3g", "-XX:+UseG1GC",
               "-XX:Tier3InvocationThreshold=100", "-XX:Tier3CompileThreshold=500",
               "-XX:Tier4InvocationThreshold=1000", "-XX:Tier4CompileThreshold=3000",
               f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
               f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
               "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
        for p in ADD_OPENS:
            cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
        cmd += ["-cp", cp, "perfbench.Main",
                "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                "--trace", str(a.trace), "--data", data, "--work", work,
                "--golden", os.path.join(HERE, "golden.json"),
                "--spans", os.path.join(RUNS, f"spans-{a.workload}.jsonl")]
        proc = subprocess.Popen(cmd, stdin=subprocess.DEVNULL, stdout=subprocess.PIPE, text=True)
        try:
            out, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail(f"harness did not finish within {JVM_TIMEOUT_S} s")
        if proc.returncode != 0:
            fail(f"harness exited with {proc.returncode}")
        lines = [ln for ln in out.splitlines() if ln.strip()]
        result = json.loads(lines[-1]) if lines else {}
        if sorted(result) != ["attempted", "correct", "failed", "metrics"]:
            fail("harness printed no result line")
        want = expected_metrics(a.trace)
        if list(result["metrics"]) != want:
            fail(f"metrics {sorted(set(result['metrics']) ^ set(want))} differ from BENCHMARK.json")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
