#!/usr/bin/env python3
"""graft benchmark: one workload, one seed, one closed-loop run.

Usage (from the repository root):
    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --pin-registry

Builds the benchmark (graft's main sources plus the driver in this
directory) with sbt when the sources changed since the last build, then runs
`graft.perfbench.Main` in one JVM and prints its result as the last line of
standard output: a JSON object with `correct`, `attempted`, `failed` and
`metrics`. Exits non-zero, without a result line, when the build or the run
fails. `--pin-registry` regenerates `registry_rows.json`, the DuckDB oracle's
row counts for the registered-query pass. See README.md for the workloads
and metrics.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SOURCES = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src", "main")]
BUILD_FILES = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
TARGET = os.path.join(HERE, "target")
CLASSPATH_FILE = os.path.join(TARGET, "perfbench.classpath")
WORKLOADS = ("verify_drift", "curate_corpus")
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170
HEAP = "3g"
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


def source_stamp():
    h = hashlib.sha256()
    for f in BUILD_FILES:
        with open(f, "rb") as fh:
            h.update(fh.read())
    for top in SOURCES:
        for d, _, files in sorted(os.walk(top)):
            for name in sorted(files):
                p = os.path.join(d, name)
                h.update(os.path.relpath(p, ROOT).encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()


def run_group(cmd, timeout, **kw):
    """Run cmd in its own process group; on timeout, or when this script is
    terminated, kill the whole group and wait for it."""
    proc = subprocess.Popen(cmd, start_new_session=True, **kw)

    def stop(*_):
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()

    def on_signal(signum, _):
        stop()
        fail(f"terminated by signal {signum}")

    handlers = {s: signal.signal(s, on_signal) for s in (signal.SIGTERM, signal.SIGINT)}
    try:
        out, _ = proc.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        stop()
        fail(f"{cmd[0]} exceeded {timeout} s and was killed")
    finally:
        for s, h in handlers.items():
            signal.signal(s, h)
    return proc.returncode, out


def build():
    """Compile with sbt unless the classpath on file matches the sources."""
    stamp = source_stamp()
    if os.path.exists(CLASSPATH_FILE):
        with open(CLASSPATH_FILE) as f:
            saved = json.load(f)
        if saved.get("stamp") == stamp:
            return saved["classpath"]
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = env.get("SBT_OPTS", "")
    repos = os.path.expanduser("~/.sbt/repositories")
    if "sbt.repository.config" not in opts and os.path.exists(repos):
        opts += f" -Dsbt.override.build.repos=true -Dsbt.repository.config={repos}"
    env["SBT_OPTS"] = (opts + " -Dsbt.offline=true").strip()
    print("[perfbench] building with sbt", file=sys.stderr)
    code, out = run_group(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
        BUILD_TIMEOUT_S, cwd=HERE, env=env, stdin=subprocess.DEVNULL,
        stdout=subprocess.PIPE, text=True)
    lines = [l for l in out.splitlines() if ".jar" in l and not l.startswith("[")]
    sys.stderr.write("\n".join(l for l in out.splitlines() if l not in lines) + "\n")
    if code != 0 or not lines:
        fail(f"sbt build failed (exit {code})")
    classpath = lines[-1].strip()
    with open(CLASSPATH_FILE, "w") as f:
        json.dump({"stamp": stamp, "classpath": classpath}, f)
    return classpath


def java_cmd(classpath, work, args):
    return (["java", f"-Xmx{HEAP}"]
            + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
            + [f"-Dperfbench.home={HERE}", f"-Djava.io.tmpdir={work}/tmp",
               f"-Dlog4j2.configurationFile={HERE}/log4j2.properties",
               "-cp", classpath, "graft.perfbench.Main"] + args)


def fresh_dir(path):
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(os.path.join(path, "tmp"))
    return path


def pin_registry(classpath):
    """Write registry_rows.json: DuckDB's row counts for the registered
    queries on the fixed registry fixture."""
    work = fresh_dir(os.path.join(HERE, "work", "registry-pins"))
    fixture = os.path.join(work, "fixture")
    code, out = run_group(java_cmd(classpath, work, ["--registry-fixture", fixture]),
                          RUN_TIMEOUT_S, cwd=work, stdin=subprocess.DEVNULL,
                          stdout=subprocess.PIPE, text=True)
    if code != 0:
        fail(f"fixture generation exited {code}")
    code, counts = run_group([sys.executable, os.path.join(HERE, "oracle.py"), fixture,
                              out.strip().splitlines()[-1]],
                             RUN_TIMEOUT_S, stdout=subprocess.PIPE, text=True)
    if code != 0:
        fail(f"oracle.py exited {code}")
    with open(os.path.join(HERE, "registry_rows.json"), "w") as f:
        f.write(counts.strip() + "\n")
    shutil.rmtree(work, ignore_errors=True)
    print(counts.strip())


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--pin-registry", action="store_true")
    args = ap.parse_args()
    if not args.pin_registry and None in (args.workload, args.seed, args.seconds):
        ap.error("--workload, --seed and --seconds are required")

    if not os.path.isdir(SOURCES[0]):
        fail(f"graft sources not found at {os.path.relpath(SOURCES[0])}; "
             "run from the root of a graft checkout")
    classpath = build()
    if args.pin_registry:
        pin_registry(classpath)
        return
    cores = len(os.sched_getaffinity(0))
    work = fresh_dir(os.path.join(HERE, "work", args.workload))
    code, out = run_group(
        java_cmd(classpath, work, [
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--work", work, "--cores", str(cores)]),
        RUN_TIMEOUT_S, cwd=work, stdin=subprocess.DEVNULL, stdout=subprocess.PIPE, text=True)
    trace = os.path.join(work, "trace.json")
    if os.path.exists(trace):
        os.makedirs(os.path.join(HERE, "out"), exist_ok=True)
        shutil.copy(trace, os.path.join(HERE, "out", f"trace-{args.workload}-seed{args.seed}.json"))
    shutil.rmtree(work, ignore_errors=True)
    lines = out.strip().splitlines()
    if code != 0 or not lines:
        fail(f"benchmark JVM exited {code}")
    result = json.loads(lines[-1])
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        fail(f"malformed result line: {lines[-1]}")
    print(json.dumps(result))


if __name__ == "__main__":
    main()
