#!/usr/bin/env python3
"""Benchmark of graft's survival workflow and operator pack.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload select --seed 1 --seconds 5 --trace 0

Workloads: `select` (Hyperband model selection), `operators` (13
operator-pack queries) and `train_score` (five model families fitted and
scored on a 5*10^4-row table; slow, so not listed in BENCHMARK.json).

The first call compiles `src/main/scala` and `perfbench/scala` with the
Scala 2.13 compiler that ships with Spark (`$SPARK_HOME/jars`, else the
`unmanagedBase` directory in build.sbt) into the build directory
(`$CARGO_TARGET_DIR`, default `.bench_build`); later calls reuse the classes while the sources are
unchanged. The workload then runs in one JVM on `local[<cpus>]`.

The last stdout line is one JSON object: `correct`, `attempted`, `failed`
and `metrics` (the end-to-end metrics, or with `--trace 1` the per-layer
metrics). Everything the run writes stays in the build directory.
"""

import argparse
import fcntl
import hashlib
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import time
import zipfile
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
BENCH = ROOT / "perfbench"
RUN_LIMIT_S = 170
BUILD_LIMIT_S = 880
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def java():
    home = os.environ.get("JAVA_HOME")
    exe = Path(home, "bin", "java") if home else shutil.which("java")
    if not exe or not Path(exe).exists():
        fail("no java on PATH or in JAVA_HOME")
    return str(exe)


def spark_jars():
    """The Spark jars: `$SPARK_HOME/jars`, else the `unmanagedBase`
    directory build.sbt compiles the program against."""
    if "SPARK_HOME" in os.environ:
        jars = Path(os.environ["SPARK_HOME"], "jars")
    else:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)',
                      (ROOT / "build.sbt").read_text())
        if not m:
            fail("set SPARK_HOME: build.sbt names no unmanagedBase")
        jars = Path(m.group(1))
    found = sorted(jars.glob("*.jar"))
    if not found:
        fail(f"no Spark jars in {jars}")
    compiler = [j for j in found
                if j.name.startswith(("scala-compiler-2.13", "scala-library-2.13",
                                      "scala-reflect-2.13"))]
    if len(compiler) != 3:
        fail(f"no Scala 2.13 compiler in {jars}")
    return found, compiler


def digest(paths, extra):
    h = hashlib.sha256("\n".join(extra).encode())
    for p in paths:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def compile_scala(build, name, sources, classpath, compiler, key):
    """Compiles `sources` into build/name unless its stamp matches `key`."""
    out = build / name
    stamp = build / f"{name}.stamp"
    if out.is_dir() and stamp.exists() and stamp.read_text() == key:
        return False
    tmp = build / f"{name}.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    argfile = build / f"{name}.args"
    argfile.write_text("\n".join(str(s) for s in sources) + "\n")
    cmd = [java(), "-Xss8m", "-Xmx2g", "-cp", ":".join(map(str, compiler)),
           "scala.tools.nsc.Main", "-nowarn", "-classpath", classpath,
           "-d", str(tmp), f"@{argfile}"]
    print(f"perfbench: compiling {len(sources)} files into {out}", file=sys.stderr)
    done = subprocess.run(cmd, cwd=ROOT, timeout=BUILD_LIMIT_S)
    if done.returncode != 0:
        fail(f"compiling {name} failed", 1)
    shutil.rmtree(out, ignore_errors=True)
    tmp.rename(out)
    stamp.write_text(key)
    return True


def build_all(build):
    main_src = sorted((ROOT / "src" / "main" / "scala").rglob("*.scala"))
    bench_src = sorted((BENCH / "scala").glob("*.scala"))
    if not main_src:
        fail("no src/main/scala here: run from the root of a graft checkout")
    if not bench_src:
        fail("no perfbench/scala sources")
    jars, compiler = spark_jars()
    jar_names = [j.name for j in jars]
    jar_cp = ":".join(map(str, jars))
    build.mkdir(parents=True, exist_ok=True)
    with open(build / "build.lock", "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        main_key = digest(main_src, jar_names)
        built = compile_scala(build, "graft-classes", main_src, jar_cp,
                              compiler, main_key)
        graft = build / "graft-classes"
        built |= compile_scala(build, "bench-classes", bench_src,
                               f"{graft}:{jar_cp}", compiler,
                               digest(bench_src, [main_key]))
        for name in ("graft", "bench"):
            jar = build / f"{name}.jar"
            if built or not jar.exists():
                pack(build / f"{name}-classes", jar)
    classpath = f"{build / 'bench.jar'}:{build / 'graft.jar'}:{jar_cp}"
    return classpath, built


def pack(classes, jar):
    """Zips a class directory into a jar: class data sharing archives
    classes from jars only."""
    tmp = jar.with_suffix(".tmp")
    with zipfile.ZipFile(tmp, "w", zipfile.ZIP_STORED) as z:
        for f in sorted(classes.rglob("*")):
            if f.is_file():
                z.write(f, str(f.relative_to(classes)))
    tmp.replace(jar)


def cds_flags(build, workload, classpath):
    """JVM flags for class data sharing. The first run of a workload
    writes an archive of the classes it loaded; later runs map it, which
    takes about 2 s off session start and 2 s off the first Spark job."""
    key = hashlib.sha256(classpath.encode())
    for jar in ("graft.jar", "bench.jar"):
        key.update((build / jar).read_bytes())
    archive = build / f"cds-{workload}-{key.hexdigest()[:16]}.jsa"
    flags = ["-Xlog:disable", "-Xlog:all=warning:stderr"]
    if archive.exists():
        return flags + [f"-XX:SharedArchiveFile={archive}"]
    for stale in build.glob(f"cds-{workload}-*.jsa"):
        stale.unlink()
    return flags + [f"-XX:ArchiveClassesAtExit={archive}"]


def cpus():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["select", "operators", "train_score"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=5)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    start = time.monotonic()
    build = (ROOT / os.environ.get("CARGO_TARGET_DIR", ".bench_build")).resolve()
    classpath, built = build_all(build)
    limit = (BUILD_LIMIT_S if built else RUN_LIMIT_S) - (time.monotonic() - start)

    for d in ("tmp", "logs", "spark-local"):
        (build / d).mkdir(parents=True, exist_ok=True)
    env = {k: v for k, v in os.environ.items() if not k.startswith("SPARK_GRAFT_")}
    env["SPARK_LOCAL_DIRS"] = str(build / "spark-local")
    cmd = [java()]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += cds_flags(build, args.workload, classpath)
    cmd += ["-Xmx3g", f"-Djava.io.tmpdir={build / 'tmp'}",
            f"-Dlog4j2.configurationFile={BENCH / 'log4j2.properties'}",
            "-cp", classpath, "graftbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--cores", str(cpus()), "--root", str(ROOT), "--build", str(build)]
    log = build / "logs" / f"{args.workload}-seed{args.seed}-trace{args.trace}.log"
    with open(log, "w") as err:
        child = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=subprocess.PIPE,
                                 stderr=err, text=True, start_new_session=True)
        try:
            out, _ = child.communicate(timeout=max(limit, 1))
        except subprocess.TimeoutExpired:
            os.killpg(child.pid, signal.SIGKILL)
            child.wait()
            fail(f"run exceeded {limit:.0f} s; log in {log}", 1)
        finally:
            if child.poll() is None:
                os.killpg(child.pid, signal.SIGKILL)
                child.wait()
    lines = [l for l in out.splitlines() if l.strip()]
    if child.returncode != 0 or not lines:
        sys.stderr.write("".join(open(log).readlines()[-30:]))
        fail(f"run failed with exit code {child.returncode}; log in {log}", 1)
    try:
        result = json.loads(lines[-1])
        assert set(result) == {"correct", "attempted", "failed", "metrics"}
    except (ValueError, AssertionError):
        fail(f"no result line; log in {log}", 1)
    print("\n".join(lines[:-1]))
    print(json.dumps(result))


if __name__ == "__main__":
    main()
