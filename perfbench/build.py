"""Build file of the benchmark: compiles the program's sources together with
the benchmark's own with the Scala compiler that ships with Spark, into
`.bench_build/graftbench/` under the checkout root. A source hash makes a
second build a no-op.

    python3 perfbench/build.py            # build
    python3 perfbench/build.py --test     # build, then run the unit tests
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
OUT = os.path.join(".bench_build", "graftbench")


class BuildError(Exception):
    pass


def spark_jars(root):
    """Spark's jar directory: $SPARK_HOME/jars, else the one the program's
    own build file names as its unmanaged base."""
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    sbt = os.path.join(root, "build.sbt")
    if os.path.isfile(sbt):
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
        if m and os.path.isdir(m.group(1)):
            return m.group(1)
    raise BuildError("cannot find Spark's jars (set SPARK_HOME)")


def scala_files(d):
    out = []
    for base, _, names in os.walk(d):
        out += [os.path.join(base, n) for n in names if n.endswith(".scala")]
    return sorted(out)


def compile_into(jars, classpath, sources, dest):
    tmp = dest + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cp = os.pathsep.join(classpath + [os.path.join(jars, "*")])
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-nowarn", "-d", tmp, "-classpath", cp] + sources
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise BuildError("scalac failed:\n" + r.stdout[-4000:])
    shutil.rmtree(dest, ignore_errors=True)
    os.rename(tmp, dest)


def digest(files):
    h = hashlib.sha256()
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def ensure(root, tests=False):
    """Build if the sources changed; returns (classpath entries, jar dir)."""
    program = os.path.join(root, "src", "main", "scala")
    if not os.path.isdir(program):
        raise BuildError("no program sources at src/main/scala under " + root)
    jars = spark_jars(root)
    sources = scala_files(program) + scala_files(os.path.join(HERE, "src"))
    out = os.path.join(root, OUT)
    classes = os.path.join(out, "classes")
    stamp = os.path.join(out, "classes.stamp")
    d = digest(sources)
    if not (os.path.isdir(classes) and os.path.isfile(stamp) and open(stamp).read() == d):
        os.makedirs(out, exist_ok=True)
        print("building benchmark (%d sources)..." % len(sources), file=sys.stderr, flush=True)
        compile_into(jars, [], sources, classes)
        with open(stamp, "w") as fh:
            fh.write(d)
    cp = [classes]
    if tests:
        tsrc = scala_files(os.path.join(HERE, "test"))
        tclasses = os.path.join(out, "test-classes")
        tstamp = os.path.join(out, "test-classes.stamp")
        td = digest(tsrc) + d
        if not (os.path.isdir(tclasses) and os.path.isfile(tstamp) and open(tstamp).read() == td):
            compile_into(jars, [classes], tsrc, tclasses)
            with open(tstamp, "w") as fh:
                fh.write(td)
        cp.append(tclasses)
    return cp, jars


def main():
    tests = "--test" in sys.argv[1:]
    try:
        cp, jars = ensure(os.getcwd(), tests=tests)
    except BuildError as e:
        print(e, file=sys.stderr)
        return 2
    if tests:
        cmd = ["java", "-XX:-UsePerfData", "-cp", os.pathsep.join(cp + [os.path.join(jars, "*")]),
               "graftbench.PureSpec"]
        return subprocess.run(cmd).returncode
    return 0


if __name__ == "__main__":
    sys.exit(main())
