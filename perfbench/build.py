"""Builds the engine and the benchmark harness into one class directory.

Compiles `src/main/scala` of the checkout together with
`perfbench/src` with the Scala compiler that ships in the Spark
distribution (`$SPARK_HOME/jars`, else the installed pyspark
package's jars), so no build tool or network is needed. The output goes to
`$CARGO_TARGET_DIR/classes` (default `.bench_build/classes`) and is
reused while the sources are unchanged.

    python3 perfbench/build.py
"""
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
BENCH = Path(__file__).resolve().parent


def build_dir():
    d = Path(os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    return d if d.is_absolute() else ROOT / d


def spark_jars():
    """`$SPARK_HOME/jars`, else the jars of the installed pyspark package."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        try:
            import pyspark
            home = str(Path(pyspark.__file__).parent)
        except ImportError:
            raise SystemExit("build: no Spark distribution (set SPARK_HOME)")
    d = Path(home) / "jars"
    if not d.is_dir():
        raise SystemExit(f"build: no Spark jars under {home}")
    return d


def sources():
    engine = ROOT / "src" / "main" / "scala"
    if not engine.is_dir():
        raise SystemExit(f"build: engine sources not found at {engine}")
    files = sorted(engine.rglob("*.scala")) + sorted((BENCH / "src").rglob("*.scala"))
    if not files:
        raise SystemExit("build: no sources")
    return files


def build():
    """Returns the class directory, compiling first if sources changed."""
    srcs = sources()
    h = hashlib.sha256()
    for f in srcs:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    stamp = h.hexdigest()
    out = build_dir() / "classes"
    if (out / ".stamp").is_file() and (out / ".stamp").read_text() == stamp:
        return out
    tmp = build_dir() / "classes.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    jars = sorted(str(j) for j in spark_jars().glob("*.jar"))
    cp = os.pathsep.join(jars)
    args = build_dir() / "scalac.args"
    args.write_text("\n".join(str(f) for f in srcs) + "\n")
    cmd = ["java", "-Xss16m", "-Xmx2g", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={build_dir()}", "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-classpath", cp, "-d", str(tmp), f"@{args}"]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        raise SystemExit("build: scalac failed")
    (tmp / ".stamp").write_text(stamp)
    shutil.rmtree(out, ignore_errors=True)
    tmp.rename(out)
    return out


if __name__ == "__main__":
    print(build())
