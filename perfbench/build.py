"""Compile the program and the benchmark into one class directory.

The program's sources (src/main/scala) and the benchmark's (perfbench/src)
are compiled together with the Scala compiler that ships in Spark's jar
directory ($SPARK_HOME/jars, default /opt/spark/jars), the same jars the
sbt build compiles against. Output goes to <build dir>/classes-<hash of
the sources>, so an unchanged tree is compiled once.

    python3 perfbench/build.py [build dir]    # default .bench_build
"""
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PROGRAM_SRC = ROOT / "src" / "main" / "scala"
BENCH_SRC = ROOT / "perfbench" / "src"


def spark_jars():
    """Spark's jar directory; it holds the Scala compiler too."""
    d = Path(os.environ.get("SPARK_HOME", "/opt/spark")) / "jars"
    jars = sorted(d.glob("*.jar"))
    if not any(j.name.startswith("scala-compiler") for j in jars):
        sys.exit("build: no Spark jar directory with a Scala compiler; set SPARK_HOME")
    return d, jars


def sources():
    if not (PROGRAM_SRC / "graft").is_dir():
        sys.exit(f"build: program sources not found under {PROGRAM_SRC}")
    return sorted(PROGRAM_SRC.rglob("*.scala")) + sorted(BENCH_SRC.rglob("*.scala"))


def build(build_dir):
    """Return the class directory for the current sources, compiling if needed."""
    build_dir = Path(build_dir).resolve()
    srcs = sources()
    jar_dir, jars = spark_jars()
    h = hashlib.sha256()
    for p in srcs + jars:
        h.update(str(p.relative_to(ROOT) if p.is_relative_to(ROOT) else p).encode())
        if p.suffix == ".scala":
            h.update(p.read_bytes())
    out = build_dir / f"classes-{h.hexdigest()[:16]}"
    if (out / ".complete").exists():
        return out, jar_dir
    build_dir.mkdir(parents=True, exist_ok=True)
    tmp = build_dir / "classes-tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir()
    cp = os.pathsep.join(str(j) for j in jars)
    argfile = build_dir / "scalac.args"
    argfile.write_text("\n".join(["-d", str(tmp), "-classpath", cp, "-nowarn"] + [str(s) for s in srcs]))
    print(f"build: compiling {len(srcs)} sources into {out.name}", file=sys.stderr)
    done = subprocess.run(["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", str(jar_dir / "*"),
                           "scala.tools.nsc.Main", f"@{argfile}"], stdout=sys.stderr)
    if done.returncode != 0:
        sys.exit("build: compilation failed")
    (tmp / ".complete").touch()
    for old in build_dir.glob("classes-*"):
        if old != tmp:
            shutil.rmtree(old, ignore_errors=True)
    tmp.rename(out)
    return out, jar_dir


if __name__ == "__main__":
    print(build(sys.argv[1] if len(sys.argv) > 1 else ROOT / ".bench_build")[0])
