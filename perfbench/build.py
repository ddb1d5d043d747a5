"""Build file of the benchmark: compiles the program (src/main/scala) and
the benchmark harness (perfbench/harness) from source with the Scala
compiler that ships in the Spark distribution the repo builds against.

Everything is written under the build directory (`$CARGO_TARGET_DIR`, else
`.bench_build`, relative to the checkout root). A build is reused while the
hash of every source file is unchanged.

    python3 perfbench/build.py          # build (or confirm up to date)
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent


class BuildError(Exception):
    pass


def spark_jars() -> Path:
    """build.sbt's `unmanagedBase`: the Spark jars, Scala compiler included."""
    sbt = ROOT / "build.sbt"
    m = re.search(r'^unmanagedBase\s*:=\s*file\("([^"]+)"\)',
                  sbt.read_text() if sbt.exists() else "", re.M)
    if not m:
        raise BuildError(f"no unmanagedBase := file(...) in {sbt}")
    return Path(m.group(1))


def build_dir() -> Path:
    d = Path(os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    return d if d.is_absolute() else ROOT / d


def sources():
    prog = sorted((ROOT / "src" / "main" / "scala").rglob("*.scala"))
    harness = sorted((HERE / "harness").glob("*.scala"))
    if not prog:
        raise BuildError(f"no program sources under {ROOT / 'src/main/scala'}")
    if not harness:
        raise BuildError(f"no harness sources under {HERE / 'harness'}")
    if not any(spark_jars().glob("scala-compiler-*.jar")):
        raise BuildError(f"no Scala compiler in {spark_jars()}")
    return prog, harness


def tree_hash(files) -> str:
    h = hashlib.sha256()
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(hashlib.sha256(f.read_bytes()).digest())
    return h.hexdigest()


def scalac(srcs, classpath: str, out: Path, log: Path):
    out.mkdir(parents=True)
    argfile = out.parent / (out.name + ".args")
    argfile.write_text("\n".join(str(s) for s in srcs) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", f"{spark_jars()}/*",
           "scala.tools.nsc.Main", "-nowarn", "-d", str(out),
           "-classpath", classpath, f"@{argfile}"]
    with open(log, "w") as lf:
        rc = subprocess.run(cmd, stdout=lf, stderr=subprocess.STDOUT).returncode
    if rc != 0:
        raise BuildError(f"scalac failed (exit {rc}); see {log}")


def build() -> str:
    """Returns the runtime classpath, building first if needed. The
    program and the harness are stamped apart, so a harness edit does
    not recompile the program."""
    prog, harness = sources()
    bd = build_dir()
    bd.mkdir(parents=True, exist_ok=True)
    jars = f"{spark_jars()}/*"
    steps = [("classes", prog, jars),
             ("harness", harness, f"{bd / 'classes'}:{jars}")]
    upstream = ""
    for name, srcs, classpath in steps:
        stamp = bd / f"{name}.stamp"
        want = tree_hash(srcs) + upstream
        if not (stamp.exists() and stamp.read_text() == want):
            stamp.unlink(missing_ok=True)
            shutil.rmtree(bd / name, ignore_errors=True)
            scalac(srcs, classpath, bd / name, bd / f"{name}.log")
            stamp.write_text(want)
        upstream = want
    return f"{bd / 'classes'}:{bd / 'harness'}:{jars}"


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        print(f"build failed: {e}", file=sys.stderr)
        sys.exit(1)
