"""Build file of the benchmark: compiles the engine's sources
(src/main/scala) together with the benchmark's own (perfbench/src) into one
class directory, with the Scala compiler shipped among Spark's jars.

    python3 perfbench/build.py        # from the root of a checkout

The output goes under $CARGO_TARGET_DIR (default .bench_build) and is reused
while the sources are unchanged.
"""
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path


def spark_jars():
    """Spark's jars: $SPARK_HOME/jars, else those of a spark-submit on PATH."""
    homes = [os.environ.get("SPARK_HOME")] + [
        str(Path(d, "spark-submit").resolve().parent.parent)
        for d in os.environ.get("PATH", "").split(os.pathsep) if Path(d, "spark-submit").is_file()]
    for home in filter(None, homes):
        jars = Path(home) / "jars"
        if any(jars.glob("scala-compiler-*.jar")):
            return jars
    raise SystemExit("perfbench: no Spark installation with a Scala compiler among its jars; "
                     "set SPARK_HOME")


def build_dir(root):
    return root / os.environ.get("CARGO_TARGET_DIR", ".bench_build") / "perfbench"


def sources(root):
    engine = root / "src" / "main" / "scala"
    if not engine.is_dir():
        raise SystemExit(f"perfbench: engine sources not found at {engine}")
    return sorted(engine.rglob("*.scala")) + sorted((root / "perfbench" / "src").glob("*.scala"))


def build(root):
    """Compile if needed; return the class directory."""
    out = build_dir(root)
    classes = out / "classes"
    srcs = sources(root)
    digest = hashlib.sha256()
    for src in srcs:
        digest.update(str(src.relative_to(root)).encode())
        digest.update(src.read_bytes())
    stamp = out / "classes.sha256"
    if stamp.exists() and stamp.read_text() == digest.hexdigest():
        return classes
    tmp = out / "tmp"
    shutil.rmtree(classes, ignore_errors=True)
    for d in (classes, tmp):
        d.mkdir(parents=True, exist_ok=True)
    argfile = out / "sources.txt"
    argfile.write_text("\n".join(str(s) for s in srcs) + "\n")
    jars = spark_jars()
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
           "-cp", f"{jars}/*", "scala.tools.nsc.Main", "-nowarn",
           "-classpath", f"{jars}/*", "-d", str(classes), f"@{argfile}"]
    print(f"perfbench: compiling {len(srcs)} sources", file=sys.stderr, flush=True)
    done = subprocess.run(cmd, cwd=root, stdout=sys.stderr, stderr=sys.stderr, timeout=800)
    if done.returncode != 0:
        raise SystemExit(f"perfbench: compilation failed ({done.returncode})")
    stamp.write_text(digest.hexdigest())
    return classes


if __name__ == "__main__":
    print(build(Path.cwd()))
