#!/usr/bin/env python3
"""Serving benchmark entry point: builds the harness, runs one workload, prints the result.

Run from the root of a checkout:

    python3 servebench/run.py --workload dash|scan|ingest --seed N --seconds S --trace 0|1 [--smoke]

The first run in a checkout compiles the program's main sources together with
the harness (sbt, offline) into servebench/target; later runs reuse that build
while the sources are unchanged. Each run gets a fresh state directory under
.bench_build/servebench/runs, removed when the run ends; generated inputs are
cached per seed under .bench_build/servebench/inputs and spans of traced runs
are written to .bench_build/servebench/traces.

The last line of stdout is one JSON object with the keys correct, attempted,
failed and metrics. The exit code is 0 only when every correctness check
passed.
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
sys.path.insert(0, HERE)
BENCH = os.path.basename(HERE)
RUN_TIMEOUT_S = 165
BUILD_TIMEOUT_S = 700
JVM_HEAP = "3g"
# cached inputs kept per size: the wide table is ~10 MB a seed
KEEP_INPUTS = {"wide": 2, "base": 12, "smoke": 4}
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"servebench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_hash(root):
    """SHA-1 over the program's main sources and the harness build inputs."""
    h = hashlib.sha1()
    tops = [os.path.join(root, "src", "main"), os.path.join(HERE, "src"),
            os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for top in tops:
        files = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, root).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx3g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    return env


def build(root, work):
    """Compile when sources changed; return the runtime classpath."""
    digest = source_hash(root)
    stamp = os.path.join(work, "build.json")
    if os.path.exists(stamp):
        with open(stamp) as fh:
            got = json.load(fh)
        if got.get("source") == digest:
            return got["classpath"], digest
    print("servebench: building (sbt compile)", file=sys.stderr)
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
        cwd=HERE, env=sbt_env(), stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=BUILD_TIMEOUT_S, stdin=subprocess.DEVNULL)
    cps = [ln.strip() for ln in proc.stdout.splitlines()
           if os.path.join(BENCH, "target") in ln and not ln.startswith("[")]
    if proc.returncode != 0 or not cps:
        sys.stderr.write(proc.stdout[-4000:])
        fail("build failed")
    with open(stamp, "w") as fh:
        json.dump({"source": digest, "classpath": cps[-1]}, fh)
    return cps[-1], digest


def git_commit(root):
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=root, capture_output=True,
                             text=True, timeout=10)
        return out.stdout.strip() if out.returncode == 0 else "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def prune_inputs(work):
    inputs = os.path.join(work, "inputs")
    if not os.path.isdir(inputs):
        return
    for size, keep in KEEP_INPUTS.items():
        dirs = sorted((d for d in os.listdir(inputs) if d.startswith(size + "-")),
                      key=lambda d: os.path.getmtime(os.path.join(inputs, d)))
        for d in dirs[:max(0, len(dirs) - keep)]:
            shutil.rmtree(os.path.join(inputs, d), ignore_errors=True)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=["dash", "scan", "ingest"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="sf0.001-sized inputs, one set-up, short loads; checks stay on")
    args = ap.parse_args()

    root = os.getcwd()
    if not (os.path.isfile(os.path.join(root, "build.sbt"))
            and os.path.isdir(os.path.join(root, "src", "main", "scala", "graft"))):
        fail("run from the root of a checkout: the program's sources are missing")
    work = os.path.join(root, ".bench_build", BENCH)
    os.makedirs(work, exist_ok=True)
    classpath, digest = build(root, work)
    prune_inputs(work)
    import gen_inputs
    size = "smoke" if args.smoke else ("wide" if args.workload == "scan" else "base")
    gen_start = time.time()
    input_dir = gen_inputs.ensure(os.path.join(work, "inputs"), size, args.seed)
    gen_s = time.time() - gen_start

    run_dir = os.path.join(work, "runs", f"{os.getpid()}-{int(time.time() * 1000)}")
    os.makedirs(os.path.join(run_dir, "tmp"))
    cmd = ["java", f"-Xmx{JVM_HEAP}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Djava.io.tmpdir={run_dir}/tmp", f"-Dspark.local.dir={run_dir}/spark-local",
            f"-Dderby.system.home={run_dir}",
            "-cp", classpath, "servebench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--smoke", "1" if args.smoke else "0", "--work", work,
            "--input", input_dir, "--events", str(gen_inputs.SIZES[size][0]),
            "--input-gen-s", f"{gen_s:.3f}",
            "--commit", git_commit(root), "--source", digest]
    log_path = os.path.join(run_dir, "jvm.log")
    code = 3
    lines = []
    try:
        with open(log_path, "w") as log:
            proc = subprocess.Popen(cmd, cwd=run_dir, stdout=subprocess.PIPE, stderr=log,
                                    stdin=subprocess.DEVNULL, text=True, start_new_session=True)
            try:
                out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
                code = proc.returncode
                lines = out.splitlines()
            except subprocess.TimeoutExpired:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
                print(f"servebench: run exceeded {RUN_TIMEOUT_S}s, killed", file=sys.stderr)
        result = None
        if lines:
            try:
                result = json.loads(lines[-1])
            except ValueError:
                result = None
        with open(log_path) as fh:
            log_text = fh.read()
        if code != 0 or result is None:
            sys.stderr.write(log_text[-6000:])
        else:
            sys.stderr.writelines(ln for ln in log_text.splitlines(True) if "[servebench]" in ln)
        if result is None or set(result) != {"correct", "attempted", "failed", "metrics"}:
            for ln in lines:
                print(ln, file=sys.stderr)
            fail(f"no result line (exit {code})", code if code else 1)
        for ln in lines:
            print(ln)
        sys.exit(code)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    main()
