"""Build file of the benchmark: compiles the engine sources (src/main/scala)
and the harness (perfbench/src) with the Scala compiler that ships in the
Spark distribution's jars ($SPARK_HOME/jars, or the distribution of the
spark-submit on PATH). No sbt and no dependency resolution are needed.

    python3 perfbench/build.py            # builds into $CARGO_TARGET_DIR or .bench_build

Output goes to <build dir>/classes-<source hash>; an unchanged tree is not
rebuilt.
"""
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent


class BuildError(Exception):
    pass


def spark_jars() -> Path:
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = Path(shutil.which("spark-submit")).resolve().parent.parent
    if not home:
        raise BuildError("no Spark distribution (set SPARK_HOME or put spark-submit on PATH)")
    jars = Path(home) / "jars"
    if not any(jars.glob("spark-sql_2.13-*.jar")):
        raise BuildError(f"no Spark 2.13 jars under {jars} (set SPARK_HOME)")
    if not any(jars.glob("scala-compiler-2.13.*.jar")):
        raise BuildError(f"no scala-compiler jar under {jars}")
    return jars


def java() -> str:
    home = os.environ.get("JAVA_HOME")
    exe = Path(home) / "bin" / "java" if home else shutil.which("java")
    if not exe or not Path(exe).exists():
        raise BuildError("no java executable (set JAVA_HOME or PATH)")
    return str(exe)


def sources() -> list:
    engine = sorted((ROOT / "src" / "main" / "scala").rglob("*.scala"))
    harness = sorted((HERE / "src").rglob("*.scala"))
    if not engine:
        raise BuildError(f"no engine sources under {ROOT / 'src' / 'main' / 'scala'}")
    if not harness:
        raise BuildError(f"no harness sources under {HERE / 'src'}")
    return engine + harness


def source_hash(srcs: list, jars: Path) -> str:
    h = hashlib.sha256()
    for p in srcs:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    h.update("|".join(sorted(j.name for j in jars.glob("*.jar"))).encode())
    return h.hexdigest()


def build_dir() -> Path:
    d = Path(os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    return d if d.is_absolute() else ROOT / d


def build() -> Path:
    """Returns the directory of compiled classes, compiling if needed."""
    jars = spark_jars()
    srcs = sources()
    digest = source_hash(srcs, jars)
    out = build_dir() / f"classes-{digest[:16]}"
    if (out / ".complete").exists():
        return out
    tmp = build_dir() / f"tmp-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    argfile = tmp / "sources.txt"
    argfile.write_text("\n".join(str(p) for p in srcs) + "\n")
    cmd = [java(), "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", str(jars / "*"), "scala.tools.nsc.Main",
           "-usejavacp", "-nowarn", "-d", str(tmp), "@" + str(argfile)]
    print(f"[perfbench] compiling {len(srcs)} sources", file=sys.stderr, flush=True)
    res = subprocess.run(cmd, cwd=ROOT, stdout=sys.stderr, stderr=sys.stderr, timeout=800)
    if res.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise BuildError(f"scalac exited {res.returncode}")
    argfile.unlink()
    (tmp / ".complete").write_text(digest + "\n")
    shutil.rmtree(out, ignore_errors=True)
    tmp.rename(out)
    return out


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        print(f"[perfbench] build failed: {e}", file=sys.stderr)
        sys.exit(2)
