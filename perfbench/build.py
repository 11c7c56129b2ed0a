"""Build file of the benchmark: compiles graft's main sources and the
harness with the Scala compiler that ships in Spark's jar directory.

    python3 perfbench/build.py        # prints the run classpath

Outputs go under the build directory (`$CARGO_TARGET_DIR`, default
`.bench_build` at the repository root). A tree whose sources hash the
same as the last build is not compiled again.
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
HARNESS = ROOT / "perfbench" / "harness"
GRAFT_SRC = ROOT / "src" / "main" / "scala"


class BuildError(RuntimeError):
    pass


def build_dir():
    return ROOT / os.environ.get("CARGO_TARGET_DIR", ".bench_build")


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = str(Path(shutil.which("spark-submit")).resolve().parent.parent)
    jars = Path(home or "") / "jars"
    if not home or not glob.glob(str(jars / "scala-compiler-*.jar")):
        raise BuildError("no Spark jar directory with a Scala compiler; "
                         "set SPARK_HOME")
    return jars


def java():
    home = os.environ.get("JAVA_HOME")
    exe = os.path.join(home, "bin", "java") if home else shutil.which("java")
    if not exe or not os.path.exists(exe):
        raise BuildError("no java on PATH; set JAVA_HOME")
    return exe


def _sources(*dirs):
    srcs = sorted(str(p) for d in dirs for p in Path(d).rglob("*.scala"))
    if not srcs:
        raise BuildError(f"no Scala sources under {', '.join(map(str, dirs))}")
    return srcs


def digest(srcs, extra=""):
    h = hashlib.sha256(extra.encode())
    for s in srcs:
        h.update(s.encode())
        h.update(Path(s).read_bytes())
    return h.hexdigest()


def _compile(name, srcs, classpath, log, depends=""):
    out = build_dir() / name
    stamp = build_dir() / f"{name}.stamp"
    d = digest(srcs, classpath + depends)
    if stamp.exists() and stamp.read_text() == d and out.is_dir():
        return out
    shutil.rmtree(out, ignore_errors=True)
    out.mkdir(parents=True)
    argfile = build_dir() / f"{name}.sources"
    argfile.write_text("\n".join(srcs) + "\n")
    # no hsperfdata file in the system temp dir: a build writes only
    # into the build directory
    cmd = [java(), "-Xss8m", "-Xmx2g", "-XX:-UsePerfData",
           "-cp", f"{spark_jars()}/*",
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", str(out)]
    if classpath:
        cmd += ["-cp", classpath]
    res = subprocess.run(cmd + [f"@{argfile}"], stdout=log, stderr=log)
    if res.returncode != 0:
        raise BuildError(f"compiling {name} failed (exit {res.returncode})")
    stamp.write_text(d)
    return out


def build(log=sys.stderr):
    """Compile what changed; return the classpath to run the harness."""
    build_dir().mkdir(parents=True, exist_ok=True)
    graft = _compile("graft-classes", _sources(GRAFT_SRC), "", log)
    harness = _compile("harness-classes", _sources(HARNESS), str(graft), log,
                       depends=(build_dir() / "graft-classes.stamp").read_text())
    return os.pathsep.join([str(harness), str(graft), f"{spark_jars()}/*"])


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        sys.exit(f"build: {e}")
