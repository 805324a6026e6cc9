"""Build file of the benchmark: compiles the repo's `src/main` and the
benchmark's own `perfbench/src` with the Scala compiler that ships among the
Spark jars the repo builds against. Each compiled tree is cached under
`.bench_build/perfbench/` by a hash of its sources, so only the first run in
a checkout pays for the build.

    python3 perfbench/build.py        # prints the runtime classpath
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
BUILD = ROOT / ".bench_build" / "perfbench"


class BuildError(RuntimeError):
    pass


def jars_dir() -> Path:
    """Spark jars: $SPARK_HOME/jars, else the repo build's `unmanagedBase`."""
    cands = []
    if os.environ.get("SPARK_HOME"):
        cands.append(Path(os.environ["SPARK_HOME"]) / "jars")
    sbt = ROOT / "build.sbt"
    if sbt.is_file():
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt.read_text())
        if m:
            cands.append(Path(m.group(1)))
    for c in cands:
        if c.is_dir() and any(c.glob("spark-sql_*.jar")):
            return c
    raise BuildError("no Spark jars found (set SPARK_HOME)")


def sources(d: Path):
    return sorted(p for p in d.rglob("*") if p.suffix in (".scala", ".java") and p.is_file())


def tree_hash(files, extra="") -> str:
    h = hashlib.sha256(extra.encode())
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()[:16]


def compile_tree(name: str, files, classpath: str) -> Path:
    if not files:
        raise BuildError(f"no sources for {name}")
    out = BUILD / f"{name}-{tree_hash(files, classpath)}"
    if (out / ".done").is_file():
        return out
    # per-process staging dir: concurrent builds never clobber each other
    tmp = out.with_name(f"{out.name}.tmp{os.getpid()}")
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    cmd = ["java", "-Xmx2g", "-Xss8m", "-cp", classpath.split(os.pathsep)[0],
           "scala.tools.nsc.Main", "-nowarn", "-d", str(tmp), "-classpath", classpath]
    cmd += [str(f) for f in files]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True, timeout=850)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise BuildError(f"compiling {name} failed:\n{r.stdout[-4000:]}")
    (tmp / ".done").write_text("ok\n")
    try:
        tmp.rename(out)
    except OSError:  # another build finished the same tree first
        shutil.rmtree(tmp, ignore_errors=True)
    return out


def build() -> str:
    """Compile what is stale and return the runtime classpath."""
    main_src = ROOT / "src" / "main"
    if not main_src.is_dir():
        raise BuildError(f"{main_src.relative_to(ROOT)} is missing: nothing to benchmark")
    jars = str(jars_dir() / "*")
    main = compile_tree("main", sources(main_src), jars)
    cp = os.pathsep.join([jars, str(main)])
    bench = compile_tree("bench", sources(Path(__file__).resolve().parent / "src"), cp)
    return os.pathsep.join([jars, str(main), str(bench)])


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        print(e, file=sys.stderr)
        sys.exit(2)
