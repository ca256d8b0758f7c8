#!/usr/bin/env python3
"""The benchmark's build: compiles the engine's `src/main/scala` together with
the harness in `perfbench/jvm` using the Scala compiler that ships in the
Spark jars, into `.bench_build/classes-<hash>/` at the checkout root. The
hash covers every source file and the jar list, so an unchanged tree is
compiled once.

    python3 perfbench/build.py       # prints the classes directory
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


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def spark_jars():
    """The Spark jars the repo's build compiles against: $SPARK_HOME/jars,
    or build.sbt's `unmanagedBase`."""
    cands = []
    if os.environ.get("SPARK_HOME"):
        cands.append(os.path.join(os.environ["SPARK_HOME"], "jars"))
    sbt = ROOT / "build.sbt"
    if sbt.exists():
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt.read_text())
        if m:
            cands.append(m.group(1))
    for c in cands:
        if c and Path(c).is_dir() and any(Path(c).glob("scala-compiler-*.jar")):
            return Path(c)
    die("no Spark jars with a Scala compiler found (set SPARK_HOME)")


def build(jars):
    """Compile src/main/scala plus the harness with scalac; cached by a hash
    of every source file and the jar list."""
    src = ROOT / "src" / "main" / "scala"
    if not src.is_dir():
        die(f"no engine sources at {src.relative_to(ROOT)}")
    files = sorted(src.rglob("*.scala")) + sorted((HERE / "jvm").rglob("*.scala"))
    h = hashlib.sha256()
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    jar_list = sorted(str(j) for j in jars.glob("*.jar"))
    h.update("\n".join(jar_list).encode())
    out = ROOT / ".bench_build" / f"classes-{h.hexdigest()[:16]}"
    if (out / ".complete").exists():
        return out
    tmp = out.with_name(out.name + ".tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    argfile = tmp / "sources.txt"
    argfile.write_text("\n".join(str(f) for f in files))
    t0 = time.time()
    r = subprocess.run(["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", f"{jars}/*", "scala.tools.nsc.Main",
                        "-nowarn", "-d", str(tmp), "-classpath", ":".join(jar_list), f"@{argfile}"],
                       capture_output=True, text=True)
    if r.returncode != 0:
        print(r.stdout[-4000:], r.stderr[-4000:], file=sys.stderr)
        die("compile failed")
    argfile.unlink()
    (tmp / ".complete").write_text(f"{time.time() - t0:.1f}\n")
    shutil.rmtree(out, ignore_errors=True)
    tmp.rename(out)
    for stale in out.parent.glob("classes-*"):
        if stale != out:
            shutil.rmtree(stale, ignore_errors=True)
    print(f"perfbench: compiled {len(files)} sources in {time.time() - t0:.1f}s", file=sys.stderr)
    return out


if __name__ == "__main__":
    print(build(spark_jars()))
