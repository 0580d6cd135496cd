"""Build file of the benchmark package: compiles the engine's sources
(`src/main/scala`) together with the benchmark's own (`perfbench/src`)
into one jar, with the Scala compiler that ships among the Spark jars.
No sbt, no network.

    python3 perfbench/build.py            # prints the jar

Output lands under `$CARGO_TARGET_DIR` (default `.bench_build`) in the
current directory, which must be the repository root. A stamp of the
source contents skips the compile when nothing changed.
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys
import zipfile

SCALA = "2.13.17"


def build_dir():
    return os.path.abspath(os.environ.get("CARGO_TARGET_DIR") or ".bench_build")


def spark_jars():
    """Directory of the Spark distribution's jars: `$SPARK_HOME/jars`, the
    one beside `spark-submit` on the PATH, or the sbt build's
    `unmanagedBase`."""
    cands = [os.path.join(os.environ.get("SPARK_HOME", ""), "jars")]
    submit = shutil.which("spark-submit")
    if submit:
        cands.append(os.path.join(os.path.dirname(os.path.realpath(submit)), os.pardir, "jars"))
    if os.path.exists("build.sbt"):
        with open("build.sbt") as f:
            cands += re.findall(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    for d in cands:
        if os.path.isfile(os.path.join(d, f"scala-compiler-{SCALA}.jar")):
            return os.path.abspath(d)
    raise SystemExit(f"perfbench: no Spark jars with scala-compiler-{SCALA} found "
                     "(set SPARK_HOME)")


def sources():
    srcs = sorted(glob.glob("src/main/scala/**/*.scala", recursive=True))
    if not srcs:
        raise SystemExit("perfbench: run from the repository root "
                         "(no src/main/scala sources here)")
    return srcs + sorted(glob.glob("perfbench/src/**/*.scala", recursive=True))


def stamp(srcs):
    h = hashlib.sha256(SCALA.encode())
    for p in srcs:
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def classpath(jars, classes):
    return os.pathsep.join(sorted(glob.glob(os.path.join(jars, "*.jar"))) + [classes])


def build():
    """Compile if the sources changed; return (class jar, jar dir, stamp).
    Classes ship as one jar: a class-data-sharing archive (see run.py)
    cannot cover a directory on the classpath."""
    jars = spark_jars()
    srcs = sources()
    digest = stamp(srcs)
    out = os.path.join(build_dir(), "perfbench.jar")
    stamp_file = out + ".stamp"
    if (os.path.exists(out) and os.path.exists(stamp_file)
            and open(stamp_file).read() == digest):
        return out, jars, digest
    for p in (stamp_file, out):
        if os.path.exists(p):
            os.remove(p)
    staging = os.path.join(build_dir(), "classes.tmp")
    subprocess.run(["rm", "-rf", staging], check=True)
    os.makedirs(staging)
    compiler = os.pathsep.join(os.path.join(jars, f"scala-{m}-{SCALA}.jar")
                               for m in ("compiler", "library", "reflect"))
    argfile = os.path.join(build_dir(), "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", compiler, "scala.tools.nsc.Main",
           "-nowarn", "-classpath", classpath(jars, staging), "-d", staging, "@" + argfile]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-8000:])
        raise SystemExit(f"perfbench: compile failed (exit {r.returncode})")
    with zipfile.ZipFile(out + ".tmp", "w", zipfile.ZIP_STORED) as z:
        for root, _, files in os.walk(staging):
            for name in sorted(files):
                path = os.path.join(root, name)
                z.write(path, os.path.relpath(path, staging))
    os.replace(out + ".tmp", out)
    subprocess.run(["rm", "-rf", staging], check=True)
    with open(stamp_file, "w") as f:
        f.write(digest)
    return out, jars, digest


if __name__ == "__main__":
    print(build()[0])
