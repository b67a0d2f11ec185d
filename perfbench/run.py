#!/usr/bin/env python3
"""End-to-end CDC benchmark: build the engine with the harness, run one
workload, relay its result line.

    python3 perfbench/run.py --workload catchup_l0 --seed 1 --seconds 12 --trace 0

Run it from the root of a checkout. The first run builds the engine and the
harness from source (sbt, about a minute); later runs reuse the classes while
the sources are unchanged. Every run works in `.perfbench/work/` and removes
it when it ends, failed runs included. A traced run (`--trace 1`) leaves its
span file and per-layer table in `.perfbench/out/<workload>-seed<seed>/`.

The last line on stdout is the result object:
`{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}`.
"""

import argparse
import hashlib
import json
import os
import re
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
CLASSES = os.path.join(HERE, "target", "scala-2.13", "classes")
STAMP = os.path.join(HERE, "target", "perfbench.sources")
WORKLOADS = ("catchup_l0", "serve_dv")

# Spark on JDK 17 outside spark-submit needs these (as the root build.sbt).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]
CORES = 4
HEAP = "3g"
BUILD_TIMEOUT_S = 850
RUN_TIMEOUT_S = 170


def sources_digest():
    """Hash of every input of the build, so a changed source rebuilds."""
    h = hashlib.sha256()
    roots = [ENGINE_SRC, os.path.join(HERE, "src"), os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    if not os.path.isdir(os.path.join(ENGINE_SRC, "graft")):
        sys.exit(f"perfbench: engine sources not found under {os.path.relpath(ENGINE_SRC)}; "
                 "run from the root of a checkout")
    digest = sources_digest()
    if os.path.isdir(CLASSES) and os.path.exists(STAMP) and open(STAMP).read() == digest:
        return
    env = dict(os.environ, PERFBENCH_SPARK_JARS=spark_jars())
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env and os.path.exists(repos):
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true -Dsbt.offline=true "
                           f"-Dsbt.repository.config={repos} -Xmx3g")
    cmd = ["sbt", "--batch", "-Dsbt.server.autostart=false", "-Dsbt.log.noformat=true",
           "clean", "compile"]
    rc = run_group(cmd, cwd=HERE, env=env, stdout=sys.stderr, timeout=BUILD_TIMEOUT_S)
    if rc != 0:
        sys.exit(f"perfbench: build failed (exit {rc})")
    with open(STAMP, "w") as f:
        f.write(digest)


def spark_jars():
    """The Spark jars to build and run against: $SPARK_HOME/jars, else the
    directory the engine's own build.sbt names as its `unmanagedBase`."""
    if os.environ.get("SPARK_HOME"):
        jars = os.path.join(os.environ["SPARK_HOME"], "jars")
    else:
        with open(os.path.join(ROOT, "build.sbt")) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        jars = m.group(1) if m else ""
    if not os.path.isdir(jars):
        sys.exit("perfbench: no Spark jars found; set SPARK_HOME")
    return jars


def java_cmd(args, jvm_opts=()):
    """`java` running perfbench.Main with `args`, on the Spark installation's jars."""
    return (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseTransparentHugePages",
             "-XX:-UsePerfData", *jvm_opts]
            + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
            + ["-cp", f"{CLASSES}{os.pathsep}{os.path.join(spark_jars(), '*')}",
               "perfbench.Main", *args])


def run_group(cmd, timeout, **kw):
    """Run `cmd` in its own process group; on timeout kill the whole group."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return -signal.SIGKILL
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="tiny inputs and one setup: a seconds-long check, not a measurement")
    ap.add_argument("--selfcheck", action="store_true",
                    help="only test the traced run's coverage check on synthetic batches")
    a = ap.parse_args()
    if not a.selfcheck and None in (a.workload, a.seed, a.seconds):
        ap.error("--workload, --seed and --seconds are required")
    # a terminated run still stops its JVM and removes its scratch
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    build()
    if a.selfcheck:
        sys.exit(run_group(java_cmd(["--selfcheck"]), cwd=ROOT, timeout=RUN_TIMEOUT_S))
    state = os.path.join(ROOT, ".perfbench")
    work = os.path.join(state, "work", f"{a.workload}-{os.getpid()}")
    out = os.path.join(state, "out", f"{a.workload}-seed{a.seed}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cmd = java_cmd(["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                    "--trace", str(a.trace), "--work", work, "--out", out,
                    "--cores", str(min(CORES, os.cpu_count() or CORES))]
                   + (["--smoke"] if a.smoke else []),
                   [f"-Djava.io.tmpdir={work}/tmp"])
    log = os.path.join(work, "stdout.txt")
    try:
        with open(log, "w") as f:
            rc = run_group(cmd, cwd=ROOT, stdout=f, timeout=RUN_TIMEOUT_S)
        with open(log) as f:
            lines = [line.strip() for line in f if line.strip()]
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if rc != 0 or not lines:
        sys.exit(f"perfbench: {a.workload} failed (exit {rc})")
    result = json.loads(lines[-1])
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        sys.exit("perfbench: malformed result line")
    print(json.dumps(result))


if __name__ == "__main__":
    main()
