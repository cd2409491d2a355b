"""Build file of the benchmark: compiles the program and the tracer.

The program is compiled from the checkout this file lives in
(`<root>/src/main`), never from another tree, with the Scala compiler
that ships in the Spark distribution's jars. Classes land in
`<root>/.bench_build/build/<hash>/`, keyed by a hash of every source
file, so a build can only ever be reused for exactly the sources it was
compiled from.

Usage: python3 perfbench/build.py   (prints the classpath entries)
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
WORK = os.path.join(ROOT, ".bench_build")


class BuildError(Exception):
    pass


def _build_sbt(root=ROOT):
    """build.sbt without its `//` comment lines."""
    try:
        with open(os.path.join(root, "build.sbt")) as fh:
            return "".join(l for l in fh if not l.lstrip().startswith("//"))
    except OSError as e:
        raise BuildError(f"cannot read build.sbt: {e}")


def spark_jars(root=ROOT):
    """The jar directory build.sbt compiles against (its `unmanagedBase`).

    The benchmark compiles with the Scala compiler in that directory and
    no options, so it refuses a build.sbt whose scalaVersion differs
    from that compiler's or that sets scalacOptions.
    """
    sbt = _build_sbt(root)
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt)
    if not m:
        raise BuildError("build.sbt names no Spark jar directory (unmanagedBase)")
    jars = m.group(1)
    compilers = glob.glob(os.path.join(jars, "scala-compiler-*.jar"))
    if len(compilers) != 1:
        raise BuildError(f"no single Scala compiler jar in {jars}")
    have = os.path.basename(compilers[0])[len("scala-compiler-"):-len(".jar")]
    want = re.search(r'scalaVersion\s*:=\s*"([^"]+)"', sbt)
    if not want or want.group(1) != have:
        raise BuildError(f"build.sbt's scalaVersion {want and want.group(1)} "
                         f"is not the compiler's {have} in {jars}")
    if "scalacOptions" in sbt:
        raise BuildError("build.sbt sets scalacOptions, which this build does not pass")
    return jars


def _files(top, exts):
    out = []
    for d, _, names in os.walk(top):
        out += [os.path.join(d, n) for n in names if n.endswith(exts)]
    return sorted(out)


def program_sources(root=ROOT):
    scala = _files(os.path.join(root, "src", "main", "scala"), (".scala", ".java"))
    if not scala:
        raise BuildError(f"no program sources under {root}/src/main/scala")
    return scala, _files(os.path.join(root, "src", "main", "resources"), ("",))


def tracer_sources():
    return _files(os.path.join(HERE, "tracer"), (".scala",))


def source_hash(root=ROOT):
    """Hash of the content and relative path of every input of the build."""
    scala, resources = program_sources(root)
    h = hashlib.sha256()
    for f in scala + resources + tracer_sources():
        h.update(os.path.relpath(f, root).encode() + b"\0")
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def _scalac(sources, out, classpath):
    os.makedirs(out, exist_ok=True)
    args = os.path.join(os.path.dirname(out), os.path.basename(out) + ".args")
    with open(args, "w") as fh:
        fh.write("\n".join(sources) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", os.path.join(spark_jars(), "*"),
           "scala.tools.nsc.Main", "-nowarn", "-usejavacp",
           "-classpath", classpath, "-d", out, "@" + args]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True)
    if r.returncode != 0:
        raise BuildError("scalac failed:\n" + r.stdout[-4000:])


def ensure_built(root=ROOT, work=WORK):
    """Builds once per source hash. Returns a dict describing the build."""
    digest = source_hash(root)
    top = os.path.join(work, "build", digest[:16])
    classes, tracer = os.path.join(top, "classes"), os.path.join(top, "tracer")
    stamp = os.path.join(top, "BUILT")
    if not os.path.exists(stamp):
        if os.path.exists(top):
            shutil.rmtree(top)
        scala, resources = program_sources(root)
        _scalac(scala, classes, classes)
        res_root = os.path.join(root, "src", "main", "resources")
        for f in resources:
            dst = os.path.join(classes, os.path.relpath(f, res_root))
            os.makedirs(os.path.dirname(dst), exist_ok=True)
            shutil.copyfile(f, dst)
        _scalac(tracer_sources(), tracer, classes)
        with open(stamp, "w") as fh:
            fh.write(digest + "\n")
        # one build per checkout is enough; drop builds of older sources
        for old in glob.glob(os.path.join(work, "build", "*")):
            if old != top:
                shutil.rmtree(old, ignore_errors=True)
    return {"hash": digest, "classes": classes, "tracer": tracer,
            "classpath": os.pathsep.join(
                [classes, tracer, os.path.join(spark_jars(), "*")])}


if __name__ == "__main__":
    try:
        print(ensure_built()["classpath"])
    except BuildError as e:
        sys.exit(f"build: {e}")
