#!/usr/bin/env python3
"""Build graft from source and run one benchmark workload.

    python3 perfbench/run.py --workload serve --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. The library (src/main/scala) and the
benchmark (perfbench/src) are compiled together with the Scala compiler
shipped in Spark's jars, into a directory keyed by a hash of the sources
under $CARGO_TARGET_DIR (default .bench_build). Every run works in its own
directory under .bench_work and removes it on exit. The last line of
standard output is the JSON result; the exit code is non-zero when the
build fails, an operation fails its check, or the run times out.
"""
import argparse
import hashlib
import os
import pathlib
import shutil
import signal
import subprocess
import sys

SCALA = "2.13.17"
RUN_TIMEOUT_S = 170
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def spark_jars():
    """Spark's jars, with the Scala compiler: under $SPARK_HOME, else under
    the first Spark installation whose bin/ is on PATH."""
    homes = [os.environ.get("SPARK_HOME", "")] + [
        str(pathlib.Path(d).parent) for d in os.environ.get("PATH", "").split(os.pathsep)
        if (pathlib.Path(d) / "spark-submit").exists()]
    for home in filter(None, homes):
        jars = pathlib.Path(home) / "jars"
        if (jars / f"scala-compiler-{SCALA}.jar").exists():
            return jars
    sys.exit(f"perfbench: no Spark installation with scala-compiler-{SCALA}.jar; set SPARK_HOME")


def sources(root):
    main = root / "src" / "main" / "scala"
    bench = root / "perfbench" / "src"
    if not main.is_dir():
        sys.exit(f"perfbench: no library sources under {main}")
    return sorted(main.rglob("*.scala")) + sorted(bench.glob("*.scala"))


def run_child(cmd, timeout, **kw):
    """Run `cmd` in its own process group; kill the whole group on timeout."""
    proc = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, _ = proc.communicate(timeout=timeout)
    except BaseException:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise
    return proc.returncode, out


def build(root, jars):
    srcs = sources(root)
    h = hashlib.sha256()
    for p in srcs:
        h.update(str(p.relative_to(root)).encode())
        h.update(p.read_bytes())
    target = pathlib.Path(os.environ.get("CARGO_TARGET_DIR", root / ".bench_build"))
    if not target.is_absolute():
        target = root / target
    out = target / f"perfbench-{h.hexdigest()[:16]}"
    classes = out / "classes"
    if (out / "ok").exists():
        return classes
    shutil.rmtree(out, ignore_errors=True)
    classes.mkdir(parents=True)
    compiler = os.pathsep.join(str(jars / f"scala-{j}-{SCALA}.jar")
                               for j in ("compiler", "library", "reflect"))
    code, _ = run_child(
        ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", compiler, "scala.tools.nsc.Main",
         "-nowarn", "-classpath", str(jars / "*"), "-d", str(classes)]
        + [str(p) for p in srcs], timeout=800)
    if code != 0:
        sys.exit(f"perfbench: compile failed ({code})")
    resources = root / "src" / "main" / "resources"
    if resources.is_dir():
        shutil.copytree(resources, classes, dirs_exist_ok=True)
    (out / "ok").touch()
    return classes


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", choices=["0", "1"], required=True)
    a = ap.parse_args()

    root = pathlib.Path.cwd()
    jars = spark_jars()
    classes = build(root, jars)
    work = root / ".bench_work" / f"run-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    cmd = (["java"] + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in ADD_OPENS]
           + ["-XX:-UsePerfData", "-Xmx3g", "-Xss4m", f"-Djava.io.tmpdir={work / 'tmp'}",
              "-Dspark.ui.enabled=false",
              f"-Dlog4j2.configurationFile={root / 'perfbench' / 'log4j2.properties'}",
              "-cp", f"{classes}{os.pathsep}{jars / '*'}",
              "graft.perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", a.trace, "--work", str(work)])
    try:
        code, out = run_child(cmd, RUN_TIMEOUT_S, stdout=subprocess.PIPE, text=True)
    except subprocess.TimeoutExpired:
        sys.exit(f"perfbench: run exceeded {RUN_TIMEOUT_S} s")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = out.strip().splitlines()
    if lines:
        print(lines[-1], flush=True)
    sys.exit(code)


if __name__ == "__main__":
    main()
