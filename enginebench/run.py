"""Benchmark of the graft engine: one run of one workload.

    python3 enginebench/run.py --workload read_mix|ingest_stream \
        --seed N --seconds S --trace 0|1

Run from the repository root. The first run builds the engine and the
harness from source (sbt, offline) into enginebench/target; later runs
reuse that build while the sources are unchanged. Each run generates its
input tables from the seed, runs one JVM in a fresh directory under
enginebench/.run (Spark warehouse, checkpoints, stream input, indexes and
java.io.tmpdir all inside it) and deletes that directory when it ends.

Human-readable metric lines come first; the last line of stdout is one JSON
object: {"correct", "attempted", "failed", "metrics"}. With --trace 1 the
per-layer metrics are reported and the trace is written to
enginebench/traces/<workload>-<seed>.json.
"""
import argparse
import hashlib
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
TARGET = os.path.join(HERE, "target")
CLASSPATH = os.path.join(TARGET, "classpath.txt")
STAMP = os.path.join(TARGET, "sources.stamp")

WORKLOADS = ("read_mix", "ingest_stream")
# Scale factor of the generated tables (lineitem = 6M x SF rows).
SF = 0.01
HEAP = "2g"
RUN_TIMEOUT_S = 170
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def fail(msg, code=2):
    print(f"enginebench: {msg}", file=sys.stderr)
    sys.exit(code)


def sources_stamp():
    """Hash of every source the build compiles, to tell when to rebuild."""
    h = hashlib.sha256()
    files = [os.path.join(HERE, "build.sbt")]
    for base in (ENGINE_SRC, os.path.join(HERE, "src")):
        for dirpath, _, names in os.walk(base):
            files += [os.path.join(dirpath, n) for n in names if n.endswith(".scala")]
    for p in sorted(files):
        with open(p, "rb") as fh:
            h.update(p.encode() + fh.read())
    return h.hexdigest()


def build():
    """Compiles engine + harness once per source state; returns the classpath."""
    stamp = sources_stamp()
    if os.path.exists(CLASSPATH) and os.path.exists(STAMP):
        with open(STAMP) as fh:
            if fh.read() == stamp:
                with open(CLASSPATH) as cp:
                    return cp.read().strip()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SPARK_HOME" not in env:
        fail("SPARK_HOME must name the Spark install whose jars/ the build uses", 1)
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env and os.path.exists(repos):
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true -Dsbt.offline=true "
                           f"-Dsbt.repository.config={repos}")
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
         "compile", "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    lines = [ln for ln in proc.stdout.splitlines() if ln.strip()]
    if proc.returncode != 0 or not lines or "scala-2.13" not in lines[-1]:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        fail("build failed", 1)
    os.makedirs(TARGET, exist_ok=True)
    with open(CLASSPATH, "w") as fh:
        fh.write(lines[-1])
    with open(STAMP, "w") as fh:
        fh.write(stamp)
    return lines[-1]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if not os.path.isdir(os.path.join(ENGINE_SRC, "graft")):
        fail(f"engine sources not found at {ENGINE_SRC}: run from a full checkout")
    cp = build()

    run = os.path.join(HERE, ".run", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(run, ignore_errors=True)
    dirs = {k: os.path.join(run, k) for k in ("data", "work", "tmp", "warehouse", "local")}
    for d in dirs.values():
        os.makedirs(d)
    proc = None
    try:
        subprocess.run([sys.executable, os.path.join(HERE, "gen_data.py"),
                        dirs["data"], str(SF), str(a.seed)], check=True)
        java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
            if os.environ.get("JAVA_HOME") else "java"
        result = os.path.join(run, "result.json")
        cmd = [java, f"-Xms{HEAP}", f"-Xmx{HEAP}"] + \
            [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in ADD_OPENS] + [
            f"-Djava.io.tmpdir={dirs['tmp']}",
            f"-Dspark.sql.warehouse.dir={dirs['warehouse']}",
            f"-Dspark.local.dir={dirs['local']}",
            "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC",
            "-Dspark.sql.icu.caseMappings.enabled=false",
            "-Dspark.sql.legacy.parquet.nanosAsLong=true",
            "-cp", cp, "enginebench.Main",
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--data", dirs["data"], "--work", dirs["work"], "--result", result]
        if a.trace:
            cmd += ["--trace-out", os.path.join(HERE, "traces", f"{a.workload}-{a.seed}.json")]
        with open(os.path.join(run, "jvm.log"), "w") as log:
            proc = subprocess.Popen(cmd, cwd=run, stdout=subprocess.PIPE, stderr=log,
                                    text=True, start_new_session=True)
            try:
                out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
                fail(f"run exceeded {RUN_TIMEOUT_S} s", 1)
        if proc.returncode != 0 or not os.path.exists(result):
            with open(os.path.join(run, "jvm.log")) as log:
                sys.stderr.write("".join(log.readlines()[-40:]))
            fail(f"JVM exited with code {proc.returncode}", 1)
        sys.stdout.write(out)
        with open(result) as fh:
            print(fh.read().strip())
    finally:
        if proc is not None and proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        shutil.rmtree(run, ignore_errors=True)


if __name__ == "__main__":
    main()
