"""Build step: compiles the engine's main sources and the benchmark's JVM
program into one class directory with the Scala compiler that ships with
Spark. The class directory is reused while no source file changes."""
import glob
import hashlib
import os
import shutil
import subprocess

SPARK_JARS = "/opt/spark/jars"
SCALA = "2.13.17"


def sources(root):
    files = sorted(glob.glob(os.path.join(root, "src/main/scala/**/*.scala"), recursive=True))
    files += sorted(glob.glob(os.path.join(root, "perfbench/scala/*.scala")))
    return files


def compiler_cp():
    return ":".join(f"{SPARK_JARS}/scala-{m}-{SCALA}.jar" for m in ("compiler", "library", "reflect"))


def ensure_built(root, out_dir):
    """Returns the class directory, compiling first if any source changed."""
    srcs = sources(root)
    if not any(s.startswith(os.path.join(root, "src/")) for s in srcs):
        raise SystemExit(f"no engine sources under {root}/src/main/scala")
    h = hashlib.sha256()
    for s in srcs:
        h.update(os.path.relpath(s, root).encode())
        with open(s, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    stamp = h.hexdigest()
    classes = os.path.join(out_dir, "classes")
    stamp_file = os.path.join(out_dir, "stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return classes
    shutil.rmtree(out_dir, ignore_errors=True)
    os.makedirs(classes)
    # -XX:-UsePerfData: the compiler's JVM writes nothing under /tmp
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", compiler_cp(),
           "scala.tools.nsc.Main", "-nowarn", "-d", classes, "-classpath", f"{SPARK_JARS}/*"] + srcs
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        raise SystemExit("build failed:\n" + r.stdout[-4000:])
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return classes
