#!/usr/bin/env python3
"""Build the program and the benchmark from source with the Scala compiler
that ships in Spark's jar directory; no sbt, no downloads.

    python3 perfbench/build.py        # from the repository root; prints the classpath

The program (src/main) and the benchmark (perfbench/src) compile into
separate directories under .bench_build/perfbench/, each keyed by a hash
of its sources, so an unchanged tree is never rebuilt and a benchmark edit
does not recompile the program. Each is packed into a jar, since the JVM's
class-data archive (see run.py) only takes classes from jars.
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))


def spark_jars(root):
    """Spark's jar directory: $SPARK_HOME/jars, else the program build's
    `unmanagedBase`."""
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    sbt = os.path.join(root, "build.sbt")
    if os.path.isfile(sbt):
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
        if m and os.path.isdir(m.group(1)):
            return m.group(1)
    raise SystemExit("perfbench: cannot find Spark's jars (set SPARK_HOME)")


def _files(base, exts):
    out = []
    for ext in exts:
        out += glob.glob(os.path.join(base, "**", "*" + ext), recursive=True)
    return sorted(f for f in out if os.path.isfile(f))


def _digest(root, files, salt=""):
    h = hashlib.sha256(salt.encode())
    for f in files:
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def _jar(classes, dest):
    with zipfile.ZipFile(dest, "w", zipfile.ZIP_STORED) as z:
        for f in _files(classes, [""]):
            z.write(f, os.path.relpath(f, classes))


def _compile(root, name, sources, resources_dir, classpath, salt, jars, out_root):
    """Compile `sources` into <out_root>/<name>-<key>/classes.jar unless
    already built; `salt` names what the sources were compiled against."""
    key = _digest(root, sources + (_files(resources_dir, [""]) if resources_dir else []),
                  salt=salt)
    done = os.path.join(out_root, f"{name}-{key}")
    if os.path.isfile(os.path.join(done, "BUILT")):
        return done
    for stale in glob.glob(os.path.join(out_root, f"{name}-*")):
        shutil.rmtree(stale, ignore_errors=True)
    tmp = done + ".tmp"
    classes = os.path.join(tmp, "classes")
    os.makedirs(classes)
    args = os.path.join(tmp, "sources.txt")
    with open(args, "w") as fh:
        fh.write("\n".join(sources) + "\n")
    scalac = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", os.path.join(jars, "*"),
              "scala.tools.nsc.Main", "-nowarn", "-d", classes,
              "-classpath", classpath, "@" + args]
    print(f"perfbench: compiling {name} ({len(sources)} files)", file=sys.stderr, flush=True)
    subprocess.run(scalac, check=True, stdout=sys.stderr)
    if resources_dir and os.path.isdir(resources_dir):
        shutil.copytree(resources_dir, classes, dirs_exist_ok=True)
    _jar(classes, os.path.join(tmp, "classes.jar"))
    shutil.rmtree(classes)
    open(os.path.join(tmp, "BUILT"), "w").close()
    os.rename(tmp, done)
    return done


def build(root):
    """Compile what changed; return the run classpath and the benchmark's
    build directory, which is new whenever the program or the benchmark
    changed."""
    jars = spark_jars(root)
    out_root = os.path.join(root, ".bench_build", "perfbench")
    os.makedirs(out_root, exist_ok=True)
    for tmp in glob.glob(os.path.join(out_root, "*.tmp")):
        shutil.rmtree(tmp, ignore_errors=True)
    spark_cp = os.path.join(jars, "*")
    main_src = _files(os.path.join(root, "src", "main"), [".scala"])
    main = _compile(root, "main", main_src, os.path.join(root, "src", "main", "resources"),
                    spark_cp, "", jars, out_root)
    main_jar = os.path.join(main, "classes.jar")
    bench = _compile(root, "bench", _files(os.path.join(HERE, "src"), [".scala"]), None,
                     main_jar + os.pathsep + spark_cp, os.path.basename(main), jars, out_root)
    # Spark's jars listed one by one, in a fixed order, as the archive needs
    classpath = [os.path.join(bench, "classes.jar"), main_jar] + sorted(
        glob.glob(os.path.join(jars, "*.jar")))
    return os.pathsep.join(classpath), bench


if __name__ == "__main__":
    print(build(os.getcwd())[0])
