"""Build file of the benchmark: compiles the program (`src/main/scala`) and
the benchmark's JVM driver (`etlbench/jvm`) with the Scala compiler that
ships among the program's unmanaged jars, then dumps the query registry.

The output lands in `<work>/build/<source hash>/` and is reused while no
source, `build.sbt` or benchmark JVM file changes. sbt is not used: it
writes `target/` and `project/target/` into the repository on every call.

Usage: python3 etlbench/build.py [work_dir]
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def jars_dir(root=ROOT):
    """The program's unmanaged jar directory, as `build.sbt` declares it."""
    sbt = open(os.path.join(root, "build.sbt")).read()
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt)
    d = m.group(1) if m else os.path.join(os.environ.get("SPARK_HOME", ""), "jars")
    if not os.path.isdir(d):
        raise SystemExit(f"etlbench: jar directory {d!r} from build.sbt not found")
    return d


def add_opens(root=ROOT):
    """The `--add-opens` flags `build.sbt` passes to forked JVMs."""
    sbt = open(os.path.join(root, "build.sbt")).read()
    m = re.search(r"val jdk17AddOpens = Seq\((.*?)\)\.flatMap", sbt, re.S)
    pkgs = re.findall(r'"([^"]+)"', m.group(1)) if m else []
    return [f for p in pkgs for f in ("--add-opens", f"{p}=ALL-UNNAMED")]


def sources(root=ROOT):
    prog = sorted(glob.glob(os.path.join(root, "src/main/scala/**/*.scala"), recursive=True))
    bench = sorted(glob.glob(os.path.join(HERE, "jvm", "*.scala")))
    if not prog or not bench:
        raise SystemExit("etlbench: no Scala sources to build")
    return prog, bench


def source_hash(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        h.update(open(f, "rb").read())
    return h.hexdigest()[:16]


def scalac(jars, classpath, out, files):
    os.makedirs(out)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", f"{jars}/*",
           "scala.tools.nsc.Main", "-nowarn", "-d", out, "-classpath", classpath] + files
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        raise SystemExit(f"etlbench: scalac failed\n{r.stdout[-4000:]}")


def build(work):
    """Return the build dir holding `classes/`, `bench/` and `registry.json`."""
    jars = jars_dir()
    prog, bench = sources()
    key = source_hash(prog + bench + [os.path.join(ROOT, "build.sbt")])
    final = os.path.join(work, "build", key)
    if os.path.exists(os.path.join(final, "registry.json")):
        return final
    tmp = f"{final}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    classes, bench_classes = os.path.join(tmp, "classes"), os.path.join(tmp, "bench")
    scalac(jars, f"{jars}/*", classes, prog)
    scalac(jars, f"{classes}:{jars}/*", bench_classes, bench)
    r = subprocess.run(["java", "-XX:-UsePerfData", "-cp", f"{bench_classes}:{classes}:{jars}/*",
                        "etlbench.DumpRegistry", os.path.join(tmp, "registry.json")],
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        raise SystemExit(f"etlbench: registry dump failed\n{r.stdout[-4000:]}")
    shutil.rmtree(final, ignore_errors=True)
    os.replace(tmp, final)
    return final


if __name__ == "__main__":
    print(build(sys.argv[1] if len(sys.argv) > 1 else os.path.join(ROOT, ".bench_build", "etlbench")))
