#!/usr/bin/env python3
"""Build file of the benchmark: compiles the pipeline (`src/main/scala`) and
the benchmark's own sources (`perfbench/src`) with the Scala compiler that
ships with the Spark distribution, into `<build dir>/classes-<source hash>`.
A build whose sources are unchanged is reused.

    python3 perfbench/build.py [build dir]     # default: .bench_build
"""
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

SCALA_VERSION = "2.13.17"
COMPILE_TIMEOUT_S = 800


class BuildError(Exception):
    pass


def spark_jars():
    return Path(os.environ.get("SPARK_HOME", "/opt/spark")) / "jars"


def sources(root):
    main = root / "src" / "main" / "scala"
    bench = root / "perfbench" / "src"
    found = sorted(main.rglob("*.scala")) if main.is_dir() else []
    if not found:
        raise BuildError(f"no pipeline sources under {main}")
    return found + sorted(bench.rglob("*.scala"))


def build(root, build_dir):
    """Compile if needed; return the classes directory."""
    srcs = sources(root)
    h = hashlib.sha256()
    for f in srcs:
        h.update(str(f.relative_to(root)).encode())
        h.update(f.read_bytes())
    dest = build_dir / f"classes-{h.hexdigest()[:16]}"
    if (dest / ".ok").exists():
        return dest
    jars = spark_jars()
    compiler = [jars / f"scala-{n}-{SCALA_VERSION}.jar"
                for n in ("compiler", "library", "reflect")]
    missing = [str(j) for j in compiler if not j.exists()]
    if missing:
        raise BuildError("Scala compiler jars not found: " + ", ".join(missing))
    tmp = build_dir / (dest.name + ".tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    argfile = build_dir / "sources.txt"
    argfile.write_text("\n".join(str(f) for f in srcs) + "\n")
    cmd = ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData",
           "-cp", os.pathsep.join(str(j) for j in compiler),
           "scala.tools.nsc.Main", "-usejavacp:false", "-nowarn",
           "-classpath", str(jars / "*"), "-d", str(tmp), f"@{argfile}"]
    try:
        p = subprocess.run(cmd, capture_output=True, text=True,
                           timeout=COMPILE_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        raise BuildError(f"compile did not finish within {COMPILE_TIMEOUT_S}s")
    if p.returncode != 0:
        raise BuildError("compile failed:\n" + (p.stdout + p.stderr)[-4000:])
    (tmp / ".ok").touch()
    shutil.rmtree(dest, ignore_errors=True)
    tmp.rename(dest)
    return dest


if __name__ == "__main__":
    out = Path(sys.argv[1] if len(sys.argv) > 1 else ".bench_build").resolve()
    try:
        print(build(Path.cwd(), out))
    except BuildError as e:
        sys.exit(f"build failed: {e}")
