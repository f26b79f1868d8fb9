"""Build file of the benchmark package: compiles graft's main sources and
the benchmark harness with the Scala compiler shipped in the Spark
distribution (see `spark_jars`), into the build directory. Nothing is
fetched; nothing is written outside the build directory. A source digest
stamps each build, so an unchanged tree is not compiled twice.

    python3 perfbench/build.py            # builds into $CARGO_TARGET_DIR or .bench_build
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
GRAFT_SRC = ROOT / "src" / "main" / "scala"
GRAFT_RES = ROOT / "src" / "main" / "resources"
HARNESS_SRC = HERE / "harness"


def build_dir() -> Path:
    return (ROOT / os.environ.get("CARGO_TARGET_DIR", ".bench_build")).resolve()


def spark_jars() -> Path:
    """$SPARK_HOME/jars, else the jars directory build.sbt names as its
    `unmanagedBase`: the same Spark the repository builds against."""
    if "SPARK_HOME" in os.environ:
        jars = Path(os.environ["SPARK_HOME"]) / "jars"
    else:
        sbt = ROOT / "build.sbt"
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)',
                      sbt.read_text() if sbt.exists() else "")
        jars = Path(m.group(1)) if m else None
    if jars is None or not any(jars.glob("scala-compiler-*.jar")):
        raise SystemExit(f"no Spark distribution with a Scala compiler at {jars}")
    return jars


def sources(d: Path) -> list:
    return sorted(d.rglob("*.scala"))


def digest(paths: list) -> str:
    h = hashlib.sha256()
    for p in paths:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def scalac(out: Path, classpath: str, srcs: list) -> None:
    if out.exists():
        shutil.rmtree(out)
    out.mkdir(parents=True)
    args = out.parent / f"{out.name}.args"
    args.write_text("\n".join(f'"{p}"' for p in srcs) + "\n")
    jars = spark_jars()
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", f"{jars}/*", "scala.tools.nsc.Main",
           "-d", str(out), "-classpath", classpath, "-nowarn", f"@{args}"]
    r = subprocess.run(cmd, capture_output=True, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:] + r.stderr[-4000:])
        raise SystemExit(f"compile failed: {out.name}")


def build() -> str:
    """Compile what changed; return the runtime classpath."""
    graft_srcs = sources(GRAFT_SRC) if GRAFT_SRC.is_dir() else []
    if not graft_srcs:
        raise SystemExit(f"no graft sources under {GRAFT_SRC}")
    harness_srcs = sources(HARNESS_SRC)
    jars = spark_jars()
    classes = build_dir() / "classes"
    graft_out, harness_out = classes / "graft", classes / "harness"
    cp = f"{harness_out}:{graft_out}:{jars}/*"
    graft_stamp = digest(graft_srcs)
    stamp = classes / "stamp"
    want = graft_stamp + "\n" + digest(harness_srcs) + "\n"
    if stamp.exists() and stamp.read_text() == want:
        return cp
    old = stamp.read_text().split("\n") if stamp.exists() else []
    if not old or old[0] != graft_stamp or not graft_out.is_dir():
        scalac(graft_out, f"{jars}/*", graft_srcs)
        if GRAFT_RES.is_dir():
            shutil.copytree(GRAFT_RES, graft_out, dirs_exist_ok=True)
    scalac(harness_out, f"{graft_out}:{jars}/*", harness_srcs)
    stamp.write_text(want)
    return cp


def source_digest() -> str:
    """Digest of the graft sources the benchmark measures."""
    return digest(sources(GRAFT_SRC))


def tree_digest() -> str:
    """Digest of everything a run's outputs and times depend on: graft's
    sources and resources and the harness. Expected values and untraced
    walls are kept per tree digest."""
    res = sorted(p for p in GRAFT_RES.rglob("*") if p.is_file()) if GRAFT_RES.is_dir() else []
    return digest(sources(GRAFT_SRC) + res + sources(HARNESS_SRC))


if __name__ == "__main__":
    print(build())
