#!/usr/bin/env python3
"""Build the program with the benchmark and run one workload.

    python3 perfbench/run.py --workload mapreduce-text --seed 1 --seconds 15 --trace 0

Run from the repository root. The first call compiles the program's sources
and the benchmark with sbt (a few minutes); later calls reuse the build while
no source file changed. The JVM it starts prints a human summary and, as its
last line, one JSON object; this script passes both through and returns the
JVM's exit code. Everything it writes stays under perfbench/.
"""
import argparse
import hashlib
import os
import pathlib
import shutil
import subprocess
import sys

HERE = pathlib.Path(__file__).resolve().parent
ROOT = HERE.parent
PROGRAM_SOURCES = ROOT / "src" / "main"
WORKLOADS = ("mapreduce-text", "near-dup", "ann-query", "stream-ingest")
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def source_stamp():
    """Hash of every input's path, size and mtime: a change forces a rebuild."""
    h = hashlib.sha256()
    roots = [PROGRAM_SOURCES, HERE / "src" / "main", HERE / "project"]
    files = [HERE / "build.sbt"]
    for r in roots:
        files += [p for p in r.rglob("*") if p.is_file() and "target" not in p.parts]
    for p in sorted(files):
        st = p.stat()
        h.update(f"{p}:{st.st_size}:{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def spark_home():
    home = os.environ.get("SPARK_HOME")
    if home:
        return home
    submit = shutil.which("spark-submit")
    if submit is None:
        sys.exit("perfbench: SPARK_HOME is unset and spark-submit is not on PATH")
    return str(pathlib.Path(submit).resolve().parent.parent)


def build(env):
    """Compile once per source state; return the runtime classpath."""
    cp_file = HERE / "target" / "bench.classpath"
    stamp_file = HERE / "target" / "bench.stamp"
    stamp = source_stamp()
    if cp_file.exists() and stamp_file.exists() and stamp_file.read_text() == stamp:
        return cp_file.read_text().strip()
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
           "compile", "export Runtime/fullClasspath"]
    out = subprocess.run(cmd, cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=sys.stderr,
                         text=True)
    sys.stderr.write(out.stdout)
    # `export` prints the classpath as one bare line after sbt's own log lines
    cp = next((l for l in reversed(out.stdout.splitlines())
               if os.pathsep in l and not l.startswith("[")), None)
    if out.returncode != 0 or cp is None:
        sys.exit(f"perfbench: build failed (sbt exit {out.returncode})")
    cp_file.parent.mkdir(parents=True, exist_ok=True)
    cp_file.write_text(cp)
    stamp_file.write_text(stamp)
    return cp


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    args = ap.parse_args()
    if not (PROGRAM_SOURCES / "scala" / "graft").is_dir():
        sys.exit(f"perfbench: no program sources under {PROGRAM_SOURCES}; "
                 "run from the repository root of a full checkout")
    env = dict(os.environ, SPARK_HOME=spark_home())
    cp = build(env)
    work = HERE / ".work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    java = shutil.which("java", path=os.path.join(env.get("JAVA_HOME", ""), "bin")) or "java"
    cmd = [java, "-Xms1g", "-Xmx1g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace), "--work", str(work)]
    try:
        code = subprocess.run(cmd, cwd=ROOT, env=env).returncode
    finally:
        shutil.rmtree(work, ignore_errors=True)
    sys.exit(code)


if __name__ == "__main__":
    main()
