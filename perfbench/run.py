#!/usr/bin/env python3
"""Flagship benchmark entry point.

    python3 perfbench/run.py --workload churn --seed 1 --seconds 15 --trace 0
    python3 perfbench/run.py --selfcheck

Run from the repository root. The first run builds the library and the
benchmark from source with sbt (the repo's own build plus perfbench/build.sbt)
and caches the runtime classpath under perfbench/.work; later runs rebuild
only when a source or build file changed. The measurement itself runs in one
plain JVM (no sbt in the timed process). The last stdout line is the result
JSON; everything a run writes stays under perfbench/.work.
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
WORK = os.path.join(HERE, ".work")
CLASSPATH = os.path.join(WORK, "classpath.txt")
STAMP = os.path.join(WORK, "classpath.stamp")
# one fixed heap for every run, whatever the host has
HEAP = "3g"
MAIN = "graft.perfbench.Main"
# CPUs the measuring JVM is pinned to: Main.Cores task slots plus one for
# the driver's own threads (stream execution, JIT compiler, GC)
CPUS = 3
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources_digest():
    """Hash of every input of the build, so a changed tree rebuilds."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"), os.path.join(ROOT, "project"),
             os.path.join(HERE, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, dirs, names in os.walk(r):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            files += [os.path.join(d, n) for n in sorted(names) if n.endswith((".scala", ".java", ".sbt", ".properties"))]
    for f in files:
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build():
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")) or \
            not os.path.isfile(os.path.join(ROOT, "build.sbt")):
        fail("the library sources (src/main/scala, build.sbt) are not next to perfbench/")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java must be on PATH")
    digest = sources_digest()
    if os.path.isfile(CLASSPATH) and os.path.isfile(STAMP):
        with open(STAMP) as f:
            if f.read().strip() == digest:
                with open(CLASSPATH) as f:
                    return f.read().strip()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    opts = env.get("SBT_OPTS", "")
    if "sbt.offline" not in opts:
        opts += " -Dsbt.offline=true"
    env["SBT_OPTS"] = (opts + " -XX:-UsePerfData").strip()
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
           "export perfbench/Runtime/fullClasspath"]
    p = subprocess.run(cmd, cwd=HERE, env=env, stdin=subprocess.DEVNULL,
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True, timeout=840)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines or "scala-library" not in lines[-1]:
        sys.stderr.write(p.stdout[-4000:])
        fail(f"build failed (sbt exit {p.returncode})")
    cp = lines[-1].strip()
    os.makedirs(WORK, exist_ok=True)
    with open(CLASSPATH, "w") as f:
        f.write(cp)
    with open(STAMP, "w") as f:
        f.write(digest)
    return cp


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=15)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--selfcheck", action="store_true")
    a = ap.parse_args()
    if not a.selfcheck and not a.workload:
        fail("--workload is required")
    cp = build()
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # C1 only: with C2, batches kept getting faster for 60+ batches after
    # the restart, and where the samples fell on that curve varied by run
    jvm = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:TieredStopAtLevel=1", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={tmp}",
           f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}"]
    for p in ADD_OPENS:
        jvm += ["--add-opens", f"{p}=ALL-UNNAMED"]
    args = ["--work", WORK, "--host-cpus", str(os.cpu_count())]
    if a.selfcheck:
        args.append("--selfcheck")
    else:
        args += ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                 "--trace", str(a.trace)]
    # the JVM runs on CPUS of the CPUs this process may use
    os.sched_setaffinity(0, sorted(os.sched_getaffinity(0))[:CPUS])
    p = subprocess.run(jvm + ["-cp", cp, MAIN] + args, cwd=ROOT, stdin=subprocess.DEVNULL,
                       stdout=subprocess.PIPE, text=True, timeout=900)
    out = [l for l in p.stdout.splitlines() if l.strip()]
    for l in out[:-1]:
        print(l)
    if p.returncode != 0 or not out:
        fail(f"benchmark JVM exited with {p.returncode}")
    if a.selfcheck:
        print(out[-1])
        return
    res = json.loads(out[-1])
    if set(res) != {"correct", "attempted", "failed", "metrics"}:
        fail("malformed result line")
    print(json.dumps(res, separators=(",", ":")))


if __name__ == "__main__":
    main()
