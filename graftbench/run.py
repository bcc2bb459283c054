#!/usr/bin/env python3
"""Run one graft benchmark measurement.

    python3 graftbench/run.py --workload log_mining --seed 1 --seconds 12 --trace 0

Builds the engine and the benchmark programs from source with sbt the
first time (and whenever a source file changes), then runs one JVM on
every core of the machine. Prints each metric by name with its unit and,
as the last line, the JSON result. Artifacts go to
graftbench/out/<workload>_s<seed>_c<cores>_t<trace>/, so runs with
another seed, core count or trace mode never overwrite each other.
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
BUILD_DIR = os.path.join(HERE, ".build")
OUT_DIR = os.path.join(HERE, "out")
WORKLOADS = ("log_mining", "corpus_dedup", "stream_monitor")

# Whole-run limits in seconds: a run that has to build first gets more.
RUN_LIMIT_S = 175
BUILD_RUN_LIMIT_S = 890

# Module opens Spark needs on JDK 17 outside spark-submit; the same list
# the engine's own build passes to its forked JVMs.
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar",
]


def heap_setting():
    """The engine's heap setting: SPARK_DRIVER_MEM if set, else what the
    repository's test recipe derives from it, half of the machine's
    memory within 2-8 GiB."""
    if os.environ.get("SPARK_DRIVER_MEM"):
        return os.environ["SPARK_DRIVER_MEM"]
    try:
        with open("/proc/meminfo") as fh:
            kb = next(int(l.split()[1]) for l in fh if l.startswith("MemTotal:"))
        return f"{min(8, max(2, kb // 2097152))}g"
    except (OSError, StopIteration, ValueError):
        return "2g"


def fail(msg, code=2):
    print(f"graftbench: {msg}", file=sys.stderr)
    sys.exit(code)


def build_inputs():
    """Files whose content decides the build."""
    files = [os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for dirpath, dirnames, filenames in os.walk(top):
            dirnames.sort()
            files += [os.path.join(dirpath, f) for f in sorted(filenames)]
    return files


def digest(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()[:16]


def run_group(cmd, timeout, **kw):
    """Runs `cmd` in its own process group; kills the whole group if it
    outlives `timeout` and always waits for it to end."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, _ = p.communicate(timeout=max(1.0, timeout))
        return p.returncode, out
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.communicate()
        return None, None
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise


def classpath(deadline):
    """The runtime classpath, building first if the sources changed."""
    files = build_inputs()
    missing = [f for f in files[:2] if not os.path.isfile(f)]
    if missing or not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        fail("engine sources not found next to the benchmark: "
             + ", ".join(missing or ["src/main/scala"]))
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java must be on PATH")
    key = digest(files)
    cp_file = os.path.join(BUILD_DIR, f"classpath-{key}.txt")
    if os.path.isfile(cp_file):
        with open(cp_file) as fh:
            return fh.read().strip(), False
    os.makedirs(BUILD_DIR, exist_ok=True)
    log = os.path.join(BUILD_DIR, "build.log")
    code, out = run_group(
        ["sbt", "-batch", "-Dsbt.log.noformat=true",
         "export Runtime/fullClasspath"],
        deadline - time.time(), cwd=HERE, stdout=subprocess.PIPE,
        stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
    with open(log, "wb") as lf:
        lf.write(out or b"")
    if code != 0:
        fail(f"build failed or timed out (exit {code}); see {log}")
    lines = [l for l in out.decode(errors="replace").splitlines() if l.strip()]
    cp = lines[-1].strip() if lines else ""
    if ".jar" not in cp or "graftbench" not in cp:
        fail(f"could not read the classpath from sbt; see {log}")
    # the classes of every build share one target directory, so only
    # the latest build's key is valid
    for f in os.listdir(BUILD_DIR):
        if f.startswith("classpath-"):
            os.remove(os.path.join(BUILD_DIR, f))
    with open(cp_file, "w") as fh:
        fh.write(cp + "\n")
    return cp, True


def main():
    start = time.time()
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    cp, built = classpath(start + BUILD_RUN_LIMIT_S - RUN_LIMIT_S)
    cores = len(os.sched_getaffinity(0))
    out = os.path.join(
        OUT_DIR, f"{args.workload}_s{args.seed}_c{cores}_t{args.trace}")
    shutil.rmtree(out, ignore_errors=True)
    tmp = os.path.join(out, "tmp")
    os.makedirs(tmp)

    cmd = (["java"]
           + [a for p in ADD_OPENS for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
           + [f"-Xmx{heap_setting()}", f"-Djava.io.tmpdir={tmp}",
              f"-Dspark.local.dir={tmp}",
              f"-Dspark.sql.warehouse.dir={os.path.join(tmp, 'warehouse')}",
              "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
              "-cp", cp, "graftbench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--out", out])
    limit = (BUILD_RUN_LIMIT_S if built else RUN_LIMIT_S) - (time.time() - start)
    with open(os.path.join(out, "stderr.log"), "wb") as err:
        code, stdout = run_group(cmd, limit, cwd=ROOT, stdout=subprocess.PIPE,
                                 stderr=err, stdin=subprocess.DEVNULL)
    for d in ("input", "work", "tmp", "checkpoints"):
        shutil.rmtree(os.path.join(out, d), ignore_errors=True)
    if code is None:
        fail(f"run exceeded {limit:.0f} s; see {out}/stderr.log", 3)
    lines = stdout.decode(errors="replace").splitlines()
    if code != 0 or not lines:
        fail(f"benchmark JVM exited with {code}; see {out}/stderr.log", 4)
    try:
        result = json.loads(lines[-1])
        assert set(result) == {"correct", "attempted", "failed", "metrics"}
    except (ValueError, AssertionError):
        fail(f"last output line is not a result: {lines[-1][:200]}", 4)
    print("\n".join(lines[:-1]))
    print(json.dumps(result))


if __name__ == "__main__":
    main()
