#!/usr/bin/env python3
"""Build file of the benchmark.

Compiles graft's main sources (src/main/scala) together with the harness
(perfbench/src/main/scala) into .bench_build/classes-<hash>, with the Scala
compiler that ships in Spark's jar directory, the one build.sbt names as
`unmanagedBase`. The hash covers every source file, so an unchanged tree
reuses its classes and any edit rebuilds.

    python3 perfbench/build.py        # from the repository root
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys
from pathlib import Path

BUILD_DIR = ".bench_build"


class BuildError(Exception):
    pass


def spark_classpath(root):
    """Spark's jars, from the directory the repository's build.sbt names."""
    sbt = Path(root) / "build.sbt"
    m = sbt.exists() and re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt.read_text())
    if not m:
        raise BuildError(f"{sbt} names no unmanagedBase jar directory")
    jars = Path(m.group(1))
    if not any(jars.glob("scala-compiler-*.jar")):
        raise BuildError(f"no Spark/Scala jars in {jars}")
    return f"{jars}/*"


def sources(root):
    main = sorted((root / "src/main/scala").rglob("*.scala"))
    if not main:
        raise BuildError(f"no Scala sources under {root / 'src/main/scala'}")
    return main + sorted((root / "perfbench/src/main/scala").rglob("*.scala"))


def build(root):
    """Return the classes directory for the tree at `root`, compiling it if needed."""
    root = Path(root).resolve()
    srcs = sources(root)
    cp = spark_classpath(root)
    digest = hashlib.sha256()
    for p in srcs:
        digest.update(str(p.relative_to(root)).encode() + b"\0" + p.read_bytes())
    out = root / BUILD_DIR / f"classes-{digest.hexdigest()[:16]}"
    if (out / ".done").exists():
        return out
    out.parent.mkdir(parents=True, exist_ok=True)
    for stale in out.parent.glob("classes-*"):
        shutil.rmtree(stale, ignore_errors=True)
    tmp = out.with_name(out.name + ".partial")
    tmp.mkdir()
    cmd = ["java", "-Xmx2g", "-Xss8m", "-cp", cp, "scala.tools.nsc.Main",
           "-classpath", cp, "-d", str(tmp), "-nowarn",
           "-Ybackend-parallelism", str(min(4, os.cpu_count() or 1)),
           *map(str, srcs)]
    proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if proc.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise BuildError("scalac failed:\n" + proc.stdout[-4000:])
    (tmp / ".done").touch()
    tmp.rename(out)
    return out


if __name__ == "__main__":
    try:
        print(build(Path.cwd()))
    except BuildError as e:
        print(e, file=sys.stderr)
        sys.exit(2)
