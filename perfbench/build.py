#!/usr/bin/env python3
"""Build file of the benchmark: compiles graft's main sources together with
the harness (harness/*.scala) into one class directory, with the Scala
2.13 compiler that ships in the Spark jar directory graft builds against.
No sbt and no dependency resolution: the jar directory is the classpath.

The output is cached under BUILD_DIR/classes-<hash of sources and jar
names>; an unchanged tree reuses it.

Usage: python3 perfbench/build.py [BUILD_DIR]   (default .bench_build)
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    """The jar directory graft's own build compiles against."""
    build = ROOT / "build.sbt"
    if build.exists():
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', build.read_text())
        if m and Path(m.group(1)).is_dir():
            return Path(m.group(1))
    home = os.environ.get("SPARK_HOME")
    if home and (Path(home) / "jars").is_dir():
        return Path(home) / "jars"
    fail("no Spark jar directory (build.sbt unmanagedBase or $SPARK_HOME/jars)")


def digest(paths, extra=""):
    h = hashlib.sha256(extra.encode())
    for p in paths:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()[:16]


def build(bdir, jars):
    """Compile graft's main sources with the harness; returns the class dir."""
    srcs = sorted((ROOT / "src" / "main" / "scala").rglob("*.scala"))
    if not srcs:
        fail(f"no graft sources under {ROOT / 'src' / 'main' / 'scala'}")
    srcs += sorted((HERE / "harness").glob("*.scala"))
    out = bdir / f"classes-{digest(srcs, str(sorted(os.listdir(jars))))}"
    if (out / ".ok").exists():
        return out
    compiler = [next(jars.glob(f"scala-{k}-2.13*.jar"), None)
                for k in ("compiler", "library", "reflect")]
    if None in compiler:
        fail(f"no Scala 2.13 compiler jars in {jars}")
    for old in bdir.glob("classes-*"):
        shutil.rmtree(old, ignore_errors=True)
    tmp = bdir / "classes-tmp"
    tmp.mkdir(parents=True)
    argfile = bdir / "scalac-args.txt"
    argfile.write_text("\n".join(str(s) for s in srcs) + "\n")
    t0 = time.time()
    r = subprocess.run(
        ["java", "-Xmx2g", "-Xss16m", "-cp", os.pathsep.join(map(str, compiler)),
         "scala.tools.nsc.Main", "-nowarn", "-classpath", f"{jars}/*",
         "-d", str(tmp), f"@{argfile}"],
        capture_output=True, text=True)
    if r.returncode != 0:
        print(r.stdout[-4000:], r.stderr[-4000:], file=sys.stderr)
        fail("compile failed")
    tmp.rename(out)
    (out / ".ok").write_text(f"{time.time() - t0:.1f}s\n")
    return out


if __name__ == "__main__":
    bdir = ROOT / (sys.argv[1] if len(sys.argv) > 1 else ".bench_build")
    bdir.mkdir(parents=True, exist_ok=True)
    print(build(bdir, spark_jars()))
