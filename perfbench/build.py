"""Build file of the benchmark: compiles the library (src/main/scala) and the
benchmark harness (perfbench/src) into .bench_build/ with the Scala compiler
that ships in Spark's jars directory, so no build tool or network is needed.

A build is keyed by a hash of every source file's path and content, and is
reused while the sources are unchanged.

Usage: python3 perfbench/build.py   (prints the classes directory)
"""
import hashlib
import os
import pathlib
import shutil
import subprocess
import sys

ROOT = pathlib.Path(__file__).resolve().parent.parent
BUILD = ROOT / ".bench_build"


def spark_jars():
    """`$SPARK_HOME/jars`, else the jars of the first Spark installation whose
    `bin/spark-submit` is on PATH."""
    homes = [os.environ["SPARK_HOME"]] if os.environ.get("SPARK_HOME") else [
        pathlib.Path(d, "spark-submit").resolve().parent.parent
        for d in os.environ.get("PATH", "").split(os.pathsep) if pathlib.Path(d, "spark-submit").is_file()]
    for home in homes:
        jars = pathlib.Path(home) / "jars"
        if any(jars.glob("spark-sql_*.jar")):
            return jars
    raise SystemExit("no Spark jars found; set SPARK_HOME")


def java():
    home = os.environ.get("JAVA_HOME")
    return str(pathlib.Path(home) / "bin" / "java") if home else "java"


def sources():
    lib = sorted((ROOT / "src" / "main" / "scala").rglob("*.scala"))
    if not lib:
        raise SystemExit(f"no library sources under {ROOT / 'src' / 'main' / 'scala'}")
    return lib + sorted((ROOT / "perfbench" / "src").rglob("*.scala"))


def build(timeout=600):
    """Returns the directory of compiled classes, compiling if needed."""
    srcs = sources()
    digest = hashlib.sha256()
    for p in srcs:
        digest.update(str(p.relative_to(ROOT)).encode() + b"\0" + p.read_bytes())
    out = BUILD / f"classes-{digest.hexdigest()[:16]}"
    if (out / "BUILT").exists():
        return out
    BUILD.mkdir(exist_ok=True)
    tmp = BUILD / f"building-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir()
    argfile = BUILD / f"sources-{os.getpid()}.txt"
    argfile.write_text("\n".join(str(p) for p in srcs) + "\n")
    cmd = [java(), "-Xss8m", "-Xmx2g", "-cp", f"{spark_jars()}/*",
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", str(tmp), f"@{argfile}"]
    try:
        subprocess.run(cmd, check=True, timeout=timeout, stdout=sys.stderr)
        (tmp / "BUILT").write_text(f"{len(srcs)} sources\n")
        for old in BUILD.glob("classes-*"):
            shutil.rmtree(old, ignore_errors=True)
        tmp.rename(out)
    finally:
        argfile.unlink(missing_ok=True)
        shutil.rmtree(tmp, ignore_errors=True)
    return out


if __name__ == "__main__":
    print(build())
