"""Build file of the benchmark: compiles graft (`src/main/scala`, plus its
`src/main/resources`) together with the benchmark's JVM side
(`perfbench/src`) into one class directory, with the Scala compiler that
ships in the Spark distribution's jar directory. No sbt, no network.

    python3 perfbench/build.py <classes-dir>

The output is stamped with a hash of every input file, so an unchanged
tree is not rebuilt.
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def spark_jars():
    """`$SPARK_HOME/jars`, else the jar directory `build.sbt` declares."""
    if os.environ.get("SPARK_HOME"):
        jars = os.path.join(os.environ["SPARK_HOME"], "jars")
    else:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)',
                      open(os.path.join(ROOT, "build.sbt")).read())
        jars = m.group(1) if m else ""
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        raise SystemExit(f"no Spark jar directory with a Scala compiler at {jars}")
    return jars


def sources():
    main = os.path.join(ROOT, "src", "main", "scala")
    bench = os.path.join(ROOT, "perfbench", "src")
    if not os.path.isdir(main):
        raise SystemExit(f"program sources not found: {main}")
    files = []
    for d in (main, bench):
        for dirpath, _, names in os.walk(d):
            files += [os.path.join(dirpath, n) for n in names if n.endswith(".scala")]
    return sorted(files)


def build(out):
    """Compile into `out` unless its stamp matches; returns the classpath."""
    jars = spark_jars()
    srcs = sources()
    resources = os.path.join(ROOT, "src", "main", "resources")
    h = hashlib.sha256()
    for f in srcs + sorted(glob.glob(os.path.join(resources, "**", "*"), recursive=True)):
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            h.update(open(f, "rb").read())
    stamp = h.hexdigest()
    cp = f"{out}:{jars}/*"
    stamp_file = os.path.join(out, ".stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return cp
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(os.path.dirname(tmp), "scalac.args")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    subprocess.run(
        ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", f"{jars}/*",
         "scala.tools.nsc.Main", "-nowarn", "-d", tmp, "-classpath", f"{jars}/*",
         "@" + argfile],
        check=True, stdout=sys.stderr)
    if os.path.isdir(resources):
        shutil.copytree(resources, tmp, dirs_exist_ok=True)
    with open(os.path.join(tmp, ".stamp"), "w") as f:
        f.write(stamp)
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    return cp


if __name__ == "__main__":
    print(build(os.path.abspath(sys.argv[1])))
