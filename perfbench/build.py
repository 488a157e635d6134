"""Build file of the benchmark: compiles the program (src/main/scala of the
checkout) together with the harness (perfbench/src) into one class
directory, with the Scala compiler that ships among the Spark jars.

Plain scalac instead of sbt keeps sbt's start-up and its caches outside the
checkout out of the picture. The jar directory is the `unmanagedBase` that
the repo's build.sbt names, so both builds use the same classpath.

    python3 perfbench/build.py        # prints the class directory
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def spark_jars(root):
    """The jar directory from build.sbt's `unmanagedBase := file("...")`."""
    with open(os.path.join(root, "build.sbt")) as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if not m or not os.path.isdir(m.group(1)):
        raise SystemExit("build.sbt names no unmanagedBase jar directory")
    return m.group(1)


def java_options(root):
    """The JVM flags of build.sbt's `javaOptions` that are literals: its
    -D properties and the JDK module opens Spark needs. Its -Xmx is left
    to the caller."""
    with open(os.path.join(root, "build.sbt")) as f:
        text = f.read()
    opens = re.findall(r'"(java\.base/[\w./]+)"', text)
    props = re.findall(r'"(-D[^"$]+)"', text)
    return [x for p in opens for x in ("--add-opens", f"{p}=ALL-UNNAMED")] + props


def sources(root):
    out = []
    for base in (os.path.join(root, "src", "main", "scala"), os.path.join(HERE, "src")):
        for d, _, files in os.walk(base):
            out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def ensure(root, build_root):
    """Compile once per source digest; return the class directory."""
    srcs = sources(root)
    if not any(s.startswith(os.path.join(root, "src")) for s in srcs):
        raise SystemExit("no program sources under src/main/scala")
    h = hashlib.sha256()
    for s in srcs:
        h.update(os.path.relpath(s, root).encode())
        with open(s, "rb") as f:
            h.update(f.read())
    classes = os.path.join(build_root, "classes-" + h.hexdigest()[:16])
    if os.path.exists(os.path.join(classes, ".done")):
        return classes
    jars = spark_jars(root)
    tmp = f"{classes}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(tmp, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs))
    cp = os.path.join(jars, "*")
    r = subprocess.run(
        ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
         "-cp", cp, "scala.tools.nsc.Main",
         "-nowarn", "-d", tmp, "-classpath", cp, "@" + argfile],
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        raise SystemExit("compile failed")
    os.remove(argfile)
    open(os.path.join(tmp, ".done"), "w").close()
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    return classes


if __name__ == "__main__":
    root = os.getcwd()
    print(ensure(root, os.path.join(root, os.environ.get("CARGO_TARGET_DIR", ".bench_build"),
                                    "perfbench", "build")))
