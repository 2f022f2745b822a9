"""Build file of the benchmark: compiles the program's main sources
together with the benchmark harness into `.bench_build/`.

It uses the Scala compiler that ships in the Spark distribution's jar
directory (found from `SPARK_HOME` or from `spark-submit` on PATH), so
the build needs no resolver, no network and no sbt state. Classes are
keyed by a digest of every input file: an unchanged tree is built once.

    python3 perfbench/build.py        # from the repository root
"""
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
BUILD_DIR = ".bench_build"


class BuildError(Exception):
    pass


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = str(Path(submit).resolve().parent.parent)
    if not home or not (Path(home) / "jars").is_dir():
        raise BuildError("Spark jars not found: set SPARK_HOME or put spark-submit on PATH")
    jars = Path(home) / "jars"
    if not list(jars.glob("scala-compiler-*.jar")):
        raise BuildError(f"no scala-compiler jar in {jars}")
    return jars


def inputs(root):
    """(sources, resource dir) of the program plus the harness."""
    main = root / "src" / "main" / "scala"
    if not (main / "graft" / "Pipeline.scala").is_file():
        raise BuildError(f"program sources not found under {main}: run from the repository root")
    sources = sorted(main.rglob("*.scala")) + sorted((HERE / "src").rglob("*.scala"))
    return sources, root / "src" / "main" / "resources"


def digest(root, files):
    """Content digest of `files`, named relative to `root`, so the same
    tree digests the same in any checkout."""
    h = hashlib.sha256()
    for f in files:
        h.update(str(f.relative_to(root)).encode() + b"\0")
        h.update(f.read_bytes())
    return h.hexdigest()


def ensure(root):
    """Compile if needed; return (classpath, source digest)."""
    root = Path(root).resolve()
    jars = spark_jars()
    sources, resources = inputs(root)
    res_files = sorted(p for p in resources.rglob("*") if p.is_file()) if resources.is_dir() else []
    key = digest(root, [Path(__file__).resolve()] + sources + res_files)[:16]
    out = root / BUILD_DIR / f"classes-{key}"
    classpath = f"{out}{os.pathsep}{jars}/*"
    if (out / "BUILT").is_file():
        return classpath, key
    tmp = root / BUILD_DIR / f"classes-{key}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    argfile = tmp / "sources.txt"
    argfile.write_text("\n".join(str(s) for s in sources) + "\n")
    java = shutil.which("java") or "java"
    cmd = [java, "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", f"{jars}/*", "scala.tools.nsc.Main",
           "-nowarn", "-d", str(tmp), "-classpath", f"{jars}/*", f"@{argfile}"]
    proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    argfile.unlink()
    if proc.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise BuildError("compile failed:\n" + proc.stdout[-4000:])
    for f in res_files:
        dst = tmp / f.relative_to(resources)
        dst.parent.mkdir(parents=True, exist_ok=True)
        shutil.copyfile(f, dst)
    (tmp / "BUILT").write_text(key + "\n")
    # drop finished builds of other trees; another process's build in
    # progress (a .tmp directory) is left alone
    for old in (root / BUILD_DIR).glob("classes-*"):
        if old != out and ".tmp" not in old.name:
            shutil.rmtree(old, ignore_errors=True)
    try:
        tmp.rename(out)
    except OSError:  # a concurrent build of the same tree won the rename
        shutil.rmtree(tmp, ignore_errors=True)
    return classpath, key


if __name__ == "__main__":
    try:
        cp, key = ensure(Path.cwd())
    except BuildError as e:
        print(f"build: {e}", file=sys.stderr)
        sys.exit(2)
    print(f"built {key}")
